"""SQL-surface operators (SURVEY.md §2.8, Q1–Q7): queries entering through
``spark.sql`` over registered temp views — exercising the ANTLR parser,
analyzer catalog lookup, and Catalyst's subquery decorrelation
(RewriteCorrelatedScalarSubquery / RewritePredicateSubquery → semi joins).

The SQL here is deliberately ANSI-portable: the same text runs on DuckDB as
its own oracle, so Spark-vs-oracle divergence isolates engine semantics, not
query-authoring differences.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cache_dir, cache_tag, register_views
from ..registry import query

# last sf_dir whose views were registered, per session (weak-keyed: the
# entry dies with the session, immune to id() recycling)
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def _views(spark: SparkSession, sf_dir: str) -> None:
    # Temp views are GLOBAL per session, so the cache must track the
    # CURRENT registration, not the set of ever-registered dirs: with a
    # set, alternating sf_dirs A → B → A would skip re-registration on
    # the return to A and silently run A's query against B's tables.
    if _REGISTERED.get(spark) != sf_dir:
        register_views(spark, sf_dir)
        _REGISTERED[spark] = sf_dir


def _sql_query(name: str, sql: str, oracle: str | None = None):
    """Register a spark.sql-path query; oracle defaults to the same text."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _views(spark, sf_dir)
        return spark.sql(sql)

    fn.__name__ = name
    fn.__doc__ = f"SQL-path query (§2.8):\n{sql}"
    query(name, oracle if oracle is not None else sql)(fn)
    return fn


subquery_scalar = _sql_query(
    "subquery_scalar",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
)

subquery_in = _sql_query(
    "subquery_in",
    """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)

subquery_correlated_exists = _sql_query(
    "subquery_correlated_exists",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
    """,
)

cte_query = _sql_query(
    "cte_query",
    """
    WITH seg_stats AS (
        SELECT c_mktsegment, count(*) AS n_cust,
               round(avg(c_acctbal), 4) AS avg_bal
        FROM customer
        GROUP BY c_mktsegment
    ),
    big_segs AS (
        SELECT c_mktsegment, n_cust, avg_bal FROM seg_stats WHERE n_cust >= 10
    )
    SELECT b.c_mktsegment, b.n_cust, b.avg_bal
    FROM big_segs b
    """,
)

sql_tpch_q3like = _sql_query(
    "sql_tpch_q3like",
    """
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)

sql_tpch_q5like = _sql_query(
    "sql_tpch_q5like",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name IN ('AMERICA', 'ASIA')
    GROUP BY n_name
    """,
)

sql_tpch_q7like = _sql_query(
    "sql_tpch_q7like",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1999-12-31 23:59:59'
    GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
)

sql_tpch_q18like = _sql_query(
    "sql_tpch_q18like",
    """
    SELECT c_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey
                         FROM lineitem
                         GROUP BY l_orderkey
                         HAVING sum(l_quantity) > 150)
    GROUP BY c_custkey, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 10
    """,
)

sql_tpch_q2like = _sql_query(
    "sql_tpch_q2like",
    """
    SELECT p.p_partkey, p.p_name, s.s_name,
           l.l_extendedprice AS best_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size <= 15
      AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                               FROM lineitem l2
                               WHERE l2.l_partkey = p.p_partkey)
    """,
)
# Q2-shape minimum-cost-supplier: a correlated scalar MIN subquery against
# the same fact table that feeds the outer join (TPC-H Q2's partsupp role is
# played by lineitem — this corpus has no partsupp table). Exercises
# Catalyst's RewriteCorrelatedScalarSubquery decorrelation: the subquery
# becomes a per-partkey MIN aggregate joined back on l_partkey, so the
# physical plan is two hash aggregates + equi joins — no per-row re-execution
# of the subquery, which is what makes the shape viable at 100 TB (the naive
# interpretation is O(parts × lineitems)). Price ties keep every minimal
# supplier in BOTH engines (deterministic set, no LIMIT). best_price is a
# non-null DOUBLE — no fetchdf coercion hazard.

sql_tpch_q16like = _sql_query(
    "sql_tpch_q16like",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
# Q16-shape supplier diversity: per-(brand, type, size) DISTINCT supplier
# count behind a NOT IN anti-subquery (the "exclude flagged suppliers"
# business rule). Exercises two planner paths the Q-family didn't yet pin
# together: NOT IN → null-aware anti join (s_suppkey is non-null, so the
# NAAJ degenerates to a plain broadcast anti join — the 100 TB-safe form;
# a nullable column here would force the notorious O(n×m) null-aware
# fallback), and count(DISTINCT) → Catalyst's two-phase distinct-aggregate
# expansion. The IN-list size filter prunes the part scan. supplier_cnt is
# a non-null BIGINT in both engines.

values_inline = _sql_query(
    "values_inline",
    """
    SELECT v.status_code, v.status_name, count(o_orderkey) AS n
    FROM (VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending'))
         AS v(status_code, status_name)
    LEFT JOIN orders ON o_orderstatus = v.status_code
    GROUP BY v.status_code, v.status_name
    """,
)


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 4 named-parameter binding): values are
    bound server-side as literals — no string interpolation, immune to
    SQL injection, and Catalyst constant-folds the bound parameters so
    pushdown works exactly as with inline literals."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "O"},
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_quantity < 30
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>` operators, SQL:2023-era pipeline
    composition): the same relational plan as the classic nested form,
    written as a linear dataflow — FROM |> WHERE |> AGGREGATE ... GROUP
    BY |> ORDER BY. Catalyst parses pipes into the identical logical
    plan (same pushdown, same partial+final aggregate), so this key pins
    that the modern SQL surface is available AND semantics-equal to the
    classic form the oracle uses."""
    _views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity < 30
        |> AGGREGATE count(*) AS n,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, revenue
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


sql_group_by_all = _sql_query(
    "sql_group_by_all",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    """,
)
# GROUP BY ALL (infer grouping keys from the non-aggregate select list) is
# the modern-SQL convenience both engines implement — the oracle runs the
# IDENTICAL text, so the H-check pins that Spark's key inference matches
# DuckDB's.


sql_lateral_topk = _sql_query(
    "sql_lateral_topk",
    """
    SELECT n.n_name, s.s_suppkey, s.s_acctbal
    FROM nation n, LATERAL (
        SELECT s_suppkey, s_acctbal FROM supplier
        WHERE s_nationkey = n.n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey
        LIMIT 2
    ) s
    """,
)
# LATERAL correlated subquery (Q13): per-nation top-2 suppliers through a
# correlated ORDER BY ... LIMIT derived table — the SQL surface behind
# "top-k per group" when the consumer writes SQL, planned by Catalyst as a
# LateralJoin + per-group limit rewrite instead of W5's window-rank path.
# The correlation must live in WHERE (Spark rejects outer references in a
# lateral SELECT list — UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY, measured).
# Identical text runs on DuckDB, so the H-check pins both engines' lateral
# decorrelation to the same rows, ties broken deterministically.


sql_recursive_cte = _sql_query(
    "sql_recursive_cte",
    """
    WITH RECURSIVE spine(d) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT date_add(d, 1) FROM spine WHERE d < DATE '1995-03-31'
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               count(*) AS n, sum(o_totalprice) AS sp
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate < DATE '1995-04-01'
        GROUP BY 1
    )
    SELECT spine.d AS day, coalesce(daily.n, 0) AS n_orders,
           round(coalesce(daily.sp, 0), 2) AS sum_price
    FROM spine LEFT JOIN daily ON daily.d = spine.d
    """,
    oracle="""
    WITH RECURSIVE spine(d) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT d + 1 FROM spine WHERE d < DATE '1995-03-31'
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n, sum(o_totalprice) AS sp
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01'
          AND o_orderdate < DATE '1995-04-01'
        GROUP BY 1
    )
    SELECT spine.d AS day, CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders,
           round(coalesce(daily.sp, 0), 2) AS sum_price
    FROM spine LEFT JOIN daily ON daily.d = spine.d
    """,
)
# Recursive CTE (Q14, Spark 4): a 90-day date spine generated by recursion
# (UnionLoop — 90 iterations stays under spark.sql.cteRecursionLevelLimit,
# default 100) LEFT-JOINed so empty days survive as zero rows — the
# gap-filling report shape GROUP BY alone cannot produce. The fact side is
# aggregated BEFORE the join (pushed date-range scan filter + partial/final
# hash agg → ~90 rows), so at 100 TB the join touches two tiny relations
# instead of shuffling the raw fact table onto 90 skewed date keys — a
# spine-side outer join can never broadcast its preserved side, so
# pre-aggregation is the scale lever here. Dialect split: Spark
# date_add(d, 1) vs DuckDB d + 1; every nullable aggregate is coalesced
# (and the count CAST to BIGINT out of DuckDB's coalesce) so no
# NULL→float64 fetchdf coercion hazard.


sql_agg_filter = _sql_query(
    "sql_agg_filter",
    """
    SELECT l_returnflag,
           count(*) AS n_all,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           round(sum(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2)
               AS sum_price_bulk,
           count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04)
               AS n_taxed_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
# Aggregate FILTER clause (Q17, SQL:2003 T612): per-aggregate predicates
# without CASE-WHEN contortions — the idiomatic way to compute several
# differently-conditioned aggregates in ONE scan/shuffle instead of N
# self-joined subqueries (the 100 TB win: one pass over the fact table).
# IDENTICAL text on both engines pins that Spark's FILTER semantics
# (including FILTER composed with DISTINCT, which expands through
# Catalyst's two-phase distinct rewrite) match the standard. Counts are
# BIGINT in both engines; the filtered sum is NULL for groups with no
# qualifying row in both (round(NULL) stays NULL — a nullable DOUBLE is
# fetchdf-stable).


@query(
    "window_ignore_nulls",
    oracle="""
    SELECT user_id, event_id,
           lag(pv IGNORE NULLS) OVER w AS prev_purchase_v,
           lead(pv IGNORE NULLS) OVER w AS next_purchase_v,
           nth_value(pv, 2 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS second_purchase_v
    FROM (SELECT user_id, event_id, ts,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window navigation (W6): ``lag``/``lead``/
    ``nth_value`` skipping NULL rows — the "most recent / next / n-th
    ACTUAL observation" shape (here: nearest purchase value around each
    event, purchases being sparse among views/clicks). This is the
    navigation half of the LOCF toolkit (E13 covers the frame-function
    half via last(ignorenulls)); without IGNORE NULLS each of these
    needs a correlated self-join. Dialect split is syntax-only (Spark
    ``lag(x) IGNORE NULLS``, DuckDB ``lag(x IGNORE NULLS)``) — the
    H-check pins that the skip semantics agree row-for-row, NULLs
    surviving where no qualifying observation exists (nullable DOUBLE —
    fetchdf-stable). One shuffle on user_id, all three functions share
    the window. Scale: identical to any per-key ordered window —
    partition-parallel, no self-joins."""
    _views(spark, sf_dir)
    return spark.sql("""
        SELECT user_id, event_id,
               lag(pv) IGNORE NULLS OVER w AS prev_purchase_v,
               lead(pv) IGNORE NULLS OVER w AS next_purchase_v,
               nth_value(pv, 2) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS second_purchase_v
        FROM (SELECT user_id, event_id, ts,
                     CASE WHEN event_type = 'purchase' THEN value END AS pv
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """)


sql_not_in_null = _sql_query(
    "sql_not_in_null",
    """
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
          AS n_not_in_clean,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN
             (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                          ELSE o_custkey END
              FROM orders))
          AS n_not_in_nullable,
      (SELECT count(*) FROM customer
       WHERE c_custkey IN
             (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                          ELSE o_custkey END
              FROM orders))
          AS n_in_nullable
    """,
)
# NULL-bearing NOT IN (Q18): the classic three-valued-logic trap, pinned
# with IDENTICAL text on both engines. A single NULL in the subquery
# makes NOT IN never-TRUE (matches are FALSE, non-matches are UNKNOWN),
# so n_not_in_nullable is 0 BY SEMANTICS while the clean variant counts
# order-less customers normally, and IN degrades gracefully (UNKNOWN for
# non-matches — matches still found). Plan-wise the nullable key is
# exactly what forces Catalyst's O(n×m) null-aware anti join — the
# fallback sql_tpch_q16like deliberately avoids by keeping its key
# non-null; this key pins that when a user DOES hit that path, the
# answer is still ANSI-correct. At 100 TB: rewrite NOT IN over nullable
# keys to NOT EXISTS (null-safe, plans as a plain anti join).


_IDENTIFIER_SQL = """
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
    FROM IDENTIFIER(:tbl)
    WHERE l_quantity >= :minqty
    GROUP BY l_returnflag
"""


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_quantity >= 30
    GROUP BY l_returnflag
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER clause (Q19, Spark 4): a TABLE NAME supplied as a bind
    parameter — the injection-safe spelling of "same query, N tables"
    templating that multi-tenant / per-day-table pipelines otherwise do
    with f-strings (the classic SQL-injection hole; Q8 covers VALUE
    parameters, this covers identifier parameters — a value parameter
    cannot name a table). The parser resolves IDENTIFIER(:tbl) to a
    real catalog reference at analysis time, so the plan is byte-for-
    byte the plain query's (pushdown/pruning intact); the H-check pins
    that against the literal-text oracle."""
    _views(spark, sf_dir)
    return spark.sql(_IDENTIFIER_SQL, args={"tbl": "lineitem", "minqty": 30})


sql_try_cast = _sql_query(
    "sql_try_cast",
    """
    SELECT o_orderkey,
           CAST(TRY_CAST(s AS INTEGER) AS DOUBLE) AS parsed
    FROM (SELECT o_orderkey,
                 concat(CAST(o_custkey AS STRING),
                        CASE WHEN o_orderkey % 5 = 0 THEN 'x' ELSE '' END) AS s
          FROM orders)
    """,
)
# TRY_CAST (Q20): NULL-on-failure casting — the dirty-string-ingest
# companion to P10's try_ arithmetic (every raw feed has unparseable
# cells, and under default ANSI mode a bare CAST kills the whole job for
# one bad row). Deterministically dirtied input (every 5th key gets a
# trailing 'x'), IDENTICAL text on both engines; the nullable INT result
# is CAST DOUBLE per the fetchdf contract (whether NULLs exist here is
# NOT data-dependent — the dirtying guarantees them at every SF).


# Q21–Q23 [r10]: the order-fulfillment TPC-H trio (q4 / q12 / q14
# shapes), adapted to this schema's columns (no l_commitdate /
# l_receiptdate / l_shipmode in the synthetic lineitem): "late" is
# shipped > 60 days after order date, and q12's ship-mode axis becomes
# the return flag. Same plan shapes as the originals: q4 = EXISTS
# semi-join + priority agg, q12 = join + two-tier conditional agg,
# q14 = join + conditional-revenue ratio.
sql_tpch_q4like = _sql_query(
    "sql_tpch_q4like",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL '60' DAY)
    GROUP BY o_orderpriority
    """,
)

sql_tpch_q12like = _sql_query(
    "sql_tpch_q12like",
    """
    SELECT l_returnflag,
           -- CAST: DuckDB sum(INTEGER) is HUGEINT -> float64 via fetchdf
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL '30' DAY
    GROUP BY l_returnflag
    """,
)

sql_tpch_q14like = _sql_query(
    "sql_tpch_q14like",
    """
    SELECT round(100.0 * round(sum(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount)
                       ELSE 0.0 END), 2)
               / round(sum(l_extendedprice * (1 - l_discount)), 2),
                 4) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)


# Q24 [r10]: SQL PIVOT clause. DuckDB's PIVOT is its own dialect (ON/
# USING), so the oracle is the relational spelling — conditional
# aggregation — which also documents what the clause desugars to.
sql_pivot_clause = _sql_query(
    "sql_pivot_clause",
    """
    SELECT * FROM (
        SELECT l_linestatus, l_returnflag, l_quantity FROM lineitem
    )
    PIVOT (
        round(sum(l_quantity), 2) FOR l_returnflag IN ('A' AS a, 'N' AS n, 'R' AS r)
    )
    """,
    oracle="""
    SELECT l_linestatus,
           round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS a,
           round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS n,
           round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS r
    FROM lineitem
    GROUP BY l_linestatus
    """,
)


@query(
    "sql_ctas_insert",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ctas,
           CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_inserted,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_c
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sql_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DDL/DML surface (Q37): CREATE TABLE ... USING PARQUET AS
    SELECT (CTAS) followed by INSERT INTO ... SELECT (append) — the two
    statements every SQL-first pipeline materializes intermediate tables
    with. The table lands half of orders via CTAS (even keys, tagged
    'ctas') and the other half via INSERT (odd keys, tagged 'ins'); the
    read-back aggregate pins (a) both halves present exactly once —
    a re-run INSERT would double n_inserted, a CTAS-over-existing would
    error, (b) values intact (exact-cents totals). Idempotent per
    session via tableExists (the join_bucketed_colocated device); a new
    session rebuilds from scratch — the writes ARE the operator.

    Scale: CTAS/INSERT are ordinary distributed writes (one narrow scan
    each, no shuffle); the catalog entry is metadata-only."""
    import shutil

    _views(spark, sf_dir)
    tag = cache_tag(sf_dir, "orders").replace(".", "_")
    name = f"sss_ctas_orders_{tag}"
    if not spark.catalog.tableExists(name):
        loc = cache_dir(f"sss_ctas_{tag}")
        shutil.rmtree(loc, ignore_errors=True)
        # The table is "built" only once BOTH statements succeed: if the
        # INSERT dies after the CTAS landed, drop the half-populated
        # table so the next call rebuilds instead of silently serving
        # n_inserted=0 for the rest of the session (ADVICE r12).
        try:
            spark.sql(
                f"""
                CREATE TABLE {name}
                USING PARQUET
                LOCATION '{loc}'
                AS SELECT o_orderkey, o_orderstatus,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                          'ctas' AS src
                   FROM orders WHERE o_orderkey % 2 = 0
                """
            )
            spark.sql(
                f"""
                INSERT INTO {name}
                SELECT o_orderkey, o_orderstatus,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                       'ins' AS src
                FROM orders WHERE o_orderkey % 2 = 1
                """
            )
        except Exception:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(loc, ignore_errors=True)
            raise
    t = spark.table(name)
    return t.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("src") == "ctas", 1).otherwise(0))
        .cast("bigint")
        .alias("n_ctas"),
        F.sum(F.when(F.col("src") == "ins", 1).otherwise(0))
        .cast("bigint")
        .alias("n_inserted"),
        F.sum("cents").cast("bigint").alias("total_c"),
    )


# Q38: LATERAL COLUMN ALIASES — referencing an earlier SELECT-list alias
# in a later item (Spark 3.4+ implicit resolution; DuckDB native). The
# chained net→gross→tax_amt derivation every financial projection writes;
# raw IEEE products in fixed textual order, so values are cross-engine
# exact with zero rounding. Identical text both engines.
sql_lateral_alias = _sql_query(
    "sql_lateral_alias",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net,
           net * (1 + l_tax) AS gross,
           gross - net AS tax_amt
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)


# Q39: JOIN STRATEGY HINTS — /*+ BROADCAST */ and /*+ SHUFFLE_HASH */
# forcing the physical join the optimizer's size estimates wouldn't
# necessarily pick; the knob every production tuning session reaches for
# first. Values must be hint-invariant (the oracle is the same query,
# hint-free, on DuckDB); the hints actually TAKING EFFECT is pinned in
# tests/test_plans.py::test_join_hints_change_strategy.
sql_join_hints = _sql_query(
    "sql_join_hints",
    """
    SELECT /*+ BROADCAST(nation), SHUFFLE_HASH(orders) */
           n_name, o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_c
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name, o_orderstatus
    """,
    oracle="""
    SELECT n_name, o_orderstatus,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_c
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name, o_orderstatus
    """,
)


# Q40: SELECT * EXCEPT — the wide-table ergonomics everyone wants at 100
# columns (project everything but the blobs). Spark 4 parser surface; the
# oracle enumerates the kept columns explicitly (DuckDB's spelling is
# EXCLUDE — the semantic, not the keyword, is under check).
sql_select_except = _sql_query(
    "sql_select_except",
    """
    SELECT * EXCEPT (o_orderdate) FROM orders WHERE o_orderkey % 11 = 0
    """,
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderpriority
    FROM orders WHERE o_orderkey % 11 = 0
    """,
)

# Q41: SQL UNPIVOT clause (the parser twin of P9's DataFrame melt and
# Q24's PIVOT): wide metrics → (metric, value) rows, INCLUDE NULLS made
# explicit so the null-row contract is pinned (Spark's default EXCLUDEs).
# Oracle replays as a UNION ALL.
sql_unpivot_clause = _sql_query(
    "sql_unpivot_clause",
    """
    SELECT c_custkey, metric, CAST(v AS DOUBLE) AS v
    FROM (SELECT c_custkey, c_acctbal,
                 CAST(c_nationkey AS DOUBLE) AS nat_key
          FROM customer)
    UNPIVOT INCLUDE NULLS (v FOR metric IN (c_acctbal, nat_key))
    """,
    oracle="""
    SELECT c_custkey, 'c_acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS v
    FROM customer
    UNION ALL
    SELECT c_custkey, 'nat_key', CAST(c_nationkey AS DOUBLE)
    FROM customer
    """,
)


sql_order_by_all_offset = _sql_query(
    "sql_order_by_all_offset",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_c
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    LIMIT 7 OFFSET 3
    """,
)
# ORDER BY ALL + LIMIT/OFFSET pagination (Q42): ALL orders by every
# SELECT item left-to-right, and the grouped rows are distinct on the
# leading pair, so the total order — hence the 7-row page after a 3-row
# skip — is deterministic on both engines; exact-cents sum keeps the
# page contents hash-stable. Plan-wise OFFSET+LIMIT collapse into one
# CollectLimit over the sorted aggregate.


@query(
    "sql_tablesample",
    oracle="""
    SELECT CAST(500 AS BIGINT) AS sample_rows,
           CAST(500 AS BIGINT) AS distinct_keys,
           TRUE AS from_source_only
    """,
)
def sql_tablesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TABLESAMPLE (n ROWS)`` clause (Q43, VERDICT r13 item 5) — the
    row-count-exact sampling surface (the percent/BUCKET variants are
    RNG-dependent and cross-engine unhashable, SURVEY O5). WHICH rows
    the engine picks is implementation-defined (a LIMIT over an
    unordered scan), so the H-checked contract is the sample's
    invariants, not its contents: exactly n rows come back, all n are
    distinct source keys (no row duplicated by the sampler), and an
    anti-join against the source is empty (nothing fabricated). The
    oracle states the same three invariants as literals.

    Precondition (ADVICE r14): the literals assume ``orders`` has at
    least 500 rows — on a smaller source TABLESAMPLE returns the whole
    table and sample_rows/distinct_keys come back < 500, hash-mismatching
    the constant oracle. Every shipped SF satisfies it (sf0.001 orders =
    1,500 rows); the invariant relative form is least(500, count(*)) if
    a sub-500-row dir ever needs this key.

    Scale: TABLESAMPLE(n ROWS) plans as a GlobalLimit over the scan —
    executors stop after their quota, no full-table pass."""
    _views(spark, sf_dir)
    sample = spark.sql(
        "SELECT o_orderkey FROM orders TABLESAMPLE (500 ROWS)"
    ).localCheckpoint()  # two consumers (count + anti-join), one sample
    stray = sample.join(
        spark.table("orders").select("o_orderkey"), "o_orderkey", "left_anti"
    )
    counts = sample.agg(
        F.count(F.lit(1)).cast("bigint").alias("sample_rows"),
        F.countDistinct("o_orderkey").cast("bigint").alias("distinct_keys"),
    )
    ok = stray.agg((F.count(F.lit(1)) == 0).alias("from_source_only"))
    return counts.crossJoin(ok)


@query(
    "sql_distribute_cluster",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum,
           TRUE AS partition_sorted,
           TRUE AS partition_disjoint
    FROM customer
    """,
)
def sql_distribute_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTRIBUTE BY`` + ``SORT BY`` physical-layout clauses (Q44,
    VERDICT r13 item 5): hash-repartition on c_mktsegment, then sort
    WITHIN each partition — the write-layout idiom (cluster files by
    key, keep rows ordered inside each) that a global ORDER BY can't
    express without a total sort. DuckDB has no partition layout to
    replay, so the H-checked contract is the clauses' guarantees,
    verified honestly via one mapInPandas pass over the PHYSICAL
    partitions (a window re-sort would destroy the evidence): every
    partition's rows arrive non-decreasing in the SORT BY key
    (partition_sorted), every segment lands in exactly one partition
    (partition_disjoint — the DISTRIBUTE BY co-location guarantee), and
    row count + key checksum prove the exchange is a permutation, not a
    drop/dup. tests/test_plans.py pins the physical plan: one
    hashpartitioning Exchange, Sort with global=false.

    Scale: this IS the scale idiom — one shuffle, per-partition sorts,
    no global merge."""
    _views(spark, sf_dir)
    dist = spark.sql(
        """
        SELECT c_mktsegment, c_acctbal, c_custkey
        FROM customer
        DISTRIBUTE BY c_mktsegment
        SORT BY c_mktsegment, c_acctbal, c_custkey
        """
    )

    def _audit(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        last = None
        ok = True
        per_seg: dict = {}
        for pdf in batches:
            for seg, bal, key in zip(
                pdf["c_mktsegment"], pdf["c_acctbal"], pdf["c_custkey"]
            ):
                t = (seg, float(bal), int(key))
                if last is not None and t < last:
                    ok = False
                last = t
                s = per_seg.setdefault(seg, [0, 0])
                s[0] += 1
                s[1] += int(key)
        yield pd.DataFrame(
            [
                {
                    "segment": seg,
                    "pid": pid,
                    "n": n,
                    "ksum": ksum,
                    "sorted": ok,
                }
                for seg, (n, ksum) in per_seg.items()
            ],
            columns=["segment", "pid", "n", "ksum", "sorted"],
        )

    per = dist.mapInPandas(
        _audit, "segment string, pid int, n long, ksum long, sorted boolean"
    )
    seg = per.groupBy("segment").agg(
        F.countDistinct("pid").alias("npid"),
        F.sum("n").alias("n"),
        F.sum("ksum").alias("ksum"),
        F.bool_and("sorted").alias("sorted"),
    )
    return seg.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("ksum").cast("bigint").alias("key_sum"),
        F.bool_and("sorted").alias("partition_sorted"),
        (F.max("npid") == 1).alias("partition_disjoint"),
    )
