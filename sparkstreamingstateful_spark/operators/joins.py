"""Join operators (SURVEY.md §2.3, J1–J9).

Join-strategy posture for 100 TB:

* dims (region 5 / nation 25 / customer / supplier / part) are broadcast —
  an explicit ``F.broadcast`` hint where the dim is guaranteed small, else
  Spark's threshold + AQE runtime conversion decide;
* fact⨝fact (orders⨝lineitem) shuffles on the join key — both facts would
  be bucketed by orderkey in a real lake so this becomes a zero-shuffle
  sort-merge; AQE skew-join splits oversized partitions at runtime;
* the non-equi J7 keeps its equi component so it plans as a hash join with
  a range residual, never a nested-loop over the fact table;
* the as-of join (J8) is the union + running-``last`` rewrite — one shuffle
  by user, no per-row probe, state bounded by one row per key — the same
  shape Structured Streaming uses for stream as-of enrichment.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cache_dir, fill_once, load_table
from ..registry import query
from ..session import conf_guard


@query(
    "join_inner",
    oracle="""
    SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_mktsegment", F.col("o_totalprice").alias("total")
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT c_custkey, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


@query(
    "join_left",
    oracle="""
    SELECT c_custkey, CAST(o_orderkey AS DOUBLE) AS o_orderkey
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join oracle contract (same as the stream-stream outer joins):
    the NULLABLE side goes out as DOUBLE on both engines. The driver
    fetches the oracle through pandas, where a NULL-bearing BIGINT column
    coerces to float64 — and whether NULLs exist is DATA-dependent
    (sf0.01 has no customer without orders; sf0.1 does — caught by the
    r6 sf0.1 driver-sim as "101401" vs "101401.0" hash mismatches)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", F.col("o_orderkey").cast("double").alias("o_orderkey")
    )


@query(
    "join_right",
    oracle="""
    SELECT c_custkey, CAST(o_orderkey AS DOUBLE) AS o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nullable side → DOUBLE both engines; see join_left's docstring
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", F.col("o_orderkey").cast("double").alias("o_orderkey")
    )


@query(
    "join_full",
    oracle="""
    SELECT CAST(c_custkey AS DOUBLE) AS c_custkey,
           CAST(o_orderkey AS DOUBLE) AS o_orderkey
    FROM customer FULL JOIN orders ON o_custkey = c_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BOTH sides nullable in full outer → DOUBLE both engines (join_left)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.col("c_custkey").cast("double").alias("c_custkey"),
        F.col("o_orderkey").cast("double").alias("o_orderkey"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: equi key kept in the condition so Catalyst plans a
    hash/sort-merge join with the range as a cheap residual filter, not a
    nested loop (SURVEY §2.3 J7)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return li.join(o, cond).select(
        "l_orderkey", "l_linenumber", F.col("l_shipdate").cast("date").alias("ship_date")
    )


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id,
           -- DOUBLE on both sides: click_id is NULL for unmatched
           -- purchases, and pandas (the driver's fetchdf) promotes a
           -- nullable int64 column to float64 — a BIGINT column would
           -- hash as int or float depending on whether the data happens
           -- to contain a null (it does at sf0.001, not at sf0.01)
           CAST(c.event_id AS DOUBLE) AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior (or
    simultaneous) click.

    Implemented as the scalable union + running-``last(ignorenulls)``
    rewrite rather than join-then-rank: one shuffle on ``user_id``, a single
    ordered pass per key, and no candidate-pair blow-up — the same
    incremental shape a streaming as-of enrichment uses. Ties (click.ts ==
    purchase.ts) sort clicks first, matching DuckDB ASOF's <= bound.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.lit(0).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("kind"),
    )
    unioned = clicks.select(
        "user_id", "ts", "kind", "click_id", F.lit(None).cast("long").alias("purchase_id")
    ).unionByName(
        purchases.select(
            "user_id", "ts", "kind", F.lit(None).cast("long").alias("click_id"), "purchase_id"
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "purchase_id",
            # double: see oracle comment — nullable ints are not
            # fetchdf-stable, so the nullable side goes out as float64
            F.col("last_click").cast("double").alias("click_id"),
        )
    )


@query(
    "join_multikey",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber, a.l_returnflag,
           b.l_extendedprice AS price
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_linenumber = b.l_linenumber
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.select("l_orderkey", "l_linenumber", "l_extendedprice").alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") == F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("l_linenumber"),
        F.col("a.l_returnflag").alias("l_returnflag"),
        F.col("b.l_extendedprice").alias("price"),
    )


# ------------------------------------------------------------- skew (AQE)
def _skewed_fact_layout(sf_dir: str) -> str:
    """Multi-file lineitem layout for the AQE skew key, cached per content
    fingerprint (``catalog.cache_dir`` / ``catalog.fill_once``).

    AQE's OptimizeSkewedJoin can only split a skewed reduce partition at
    MAP-TASK granularity (ShufflePartitionsUtil.createSkewPartitionSpecs
    groups whole per-mapper blocks): a hot partition fed by ONE mapper is
    unsplittable and the rule silently reports zero skewed partitions —
    measured here, and invisible until you read the rule's debug log.
    The shipped fixture is a single parquet file with a single row group,
    so the whole fact scan IS one mapper; a real 100 TB fact arrives as
    thousands of files/row-groups and never hits this. The layout
    restores the at-scale topology: the table sliced into ~4000-row
    files (8..64 of them), one mapper each."""
    import pyarrow.parquet as pq

    out = cache_dir("sss_skewfact", sf_dir, "lineitem")

    def fill() -> None:
        t = pq.read_table(f"{sf_dir}/lineitem.parquet")
        n = t.num_rows
        k = min(64, max(8, n // 4000))
        for i in range(k):
            lo, hi = i * n // k, (i + 1) * n // k
            pq.write_table(t.slice(lo, hi - lo), os.path.join(out, f"{i:04d}.parquet"))

    fill_once(out, fill)
    return out


def _skew_confs(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Conf window for the AQE skew-join key, sized from the fact table's
    parquet footer so the hot partition is flagged at EVERY shipped SF and
    the split count stays O(constant) as data grows: the skew threshold is
    ~1/3 of the estimated hot-partition shuffle bytes (assuming ~12 B/row
    of compressed (key, price, qty) payload) and the advisory target is
    half that, so AQE carves the hot partition into a handful of
    task-sized splits instead of thousands. Broadcast is disabled on both
    planner and AQE sides — a broadcast join has no shuffle to skew, and
    the point of this key is the sort-merge path a 100 TB fact x fact
    join is forced onto."""
    import pyarrow.parquet as pq

    n_rows = pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata.num_rows
    est_hot = n_rows * 8 // 10 * 12  # 80% of rows x ~12 B compressed
    thr = max(4096, est_hot // 3)
    return {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(thr),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(max(2048, thr // 6)),
        # one map task per layout file — without this the small files are
        # PACKED back into one read task (openCostInBytes padding) and the
        # hot partition becomes single-mapper-unsplittable again
        "spark.sql.files.maxPartitionBytes": "1048576",
    }


def skew_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lazy) skewed join plan: a derived fact key concentrating ~80%
    of lineitem on ONE value joined to a 98-row derived dim — the
    textbook hot-key shape that stalls a shuffle join on the straggler
    partition. Split out so tests/test_plans.py can pin ``skew=true`` in
    the AQE final plan inside its own conf window. The fact is read from
    the multi-file derived layout (one mapper per file) — see
    _skewed_fact_layout for why mapper count gates skew splitting."""
    from ..catalog import SCHEMAS

    li = spark.read.schema(SCHEMAS["lineitem"]).parquet(_skewed_fact_layout(sf_dir))
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
        .otherwise(1 + F.col("l_orderkey") % 97)
        .cast("bigint")
        .alias("k"),
        "l_extendedprice",
        "l_quantity",
    )
    dim = spark.range(98).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 7).cast("string")).alias("grp"),
    )
    return (
        fact.join(dim, "k")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "join_skew_aqe",
    oracle="""
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                    ELSE 1 + l_orderkey % 97 END AS k,
               l_extendedprice, l_quantity
        FROM lineitem),
    dim AS (SELECT i AS k, 'g' || CAST(i % 7 AS VARCHAR) AS grp
            FROM range(98) t(i))
    SELECT d.grp, count(*) AS n,
           round(sum(f.l_extendedprice), 2) AS sum_price,
           round(sum(f.l_quantity), 2) AS sum_qty
    FROM fact f JOIN dim d ON f.k = d.k
    GROUP BY d.grp
    """,
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE runtime skew-join handling (OptimizeSkewedJoin) — the
    engine-native complement to agg_salted_skew's MANUAL salting: a fact
    with one hot key (~80% of rows) sort-merge-joined un-salted, leaving
    AQE to detect the oversized shuffle partition from map-output
    statistics at stage boundary and split it into advisory-sized chunks
    (each joined against a replicated read of the matching dim
    partition). That runtime re-plan is exactly what rescues a 100 TB
    hot-key join no one pre-salted — and it needs zero query rewrite,
    which is why it's the first lever to reach for in production.
    tests/test_plans.py pins ``skew=true`` inside the AQE final plan the
    same way the DPP key pins its pruning expression; this H-check pins
    that the split-and-union produces exactly the un-split result
    (per-group counts and sums over the full join).

    The conf window sets broadcast off (both planner and AQE) plus
    footer-derived skew thresholds (see _skew_confs); the result is
    materialized eagerly inside the window — AQE reads these confs at
    execution, so a lazily-returned frame would re-plan under restored
    session defaults (the scan_state_store lesson)."""
    with conf_guard(spark, _skew_confs(spark, sf_dir)):
        return skew_join_frame(spark, sf_dir).localCheckpoint(eager=True)


# ----------------------------------------------------- binned range join
_RANGE_DAYS = 3  # |l_shipdate - o_orderdate| <= 3 days
_BIN_DAYS = 7  # bucket width: one window never spans more than 2 buckets
_PROBE_MOD = 499  # deterministic probe slice: 4/31/301 orders at the 3 SFs


@query(
    "join_range_binned",
    oracle=f"""
    WITH probes AS (
        SELECT o_orderkey,
               epoch_us(o_orderdate) // 86400000000 AS o_day
        FROM orders WHERE o_orderkey % {_PROBE_MOD} = 0
    ),
    li AS (
        SELECT epoch_us(l_shipdate) // 86400000000 AS l_day,
               l_extendedprice
        FROM lineitem
    ),
    hits AS (
        SELECT p.o_orderkey,
               CAST(count(*) AS BIGINT) AS n,
               sum(l.l_extendedprice) AS s
        FROM probes p JOIN li l
          ON abs(l.l_day - p.o_day) <= {_RANGE_DAYS}
        GROUP BY p.o_orderkey
    )
    SELECT p.o_orderkey,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_near,
           round(coalesce(h.s, 0), 2) AS sum_near_price
    FROM probes p LEFT JOIN hits h USING (o_orderkey)
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE interval join (no equi key anywhere) via BUCKET BINNING — the
    classic rewrite that turns "every lineitem shipped within ±3 days of
    each probe order's date, across ALL orders" from a nested-loop/cross
    product into an equi-join: time is binned into 7-day buckets (width
    > window span, so a window overlaps at most 2 buckets), the probe
    side explodes to its overlapped buckets (≤2 rows each), both sides
    equi-join ON BUCKET, and the exact residual ``abs(Δdays) <= 3``
    filters candidates. J7 keeps its natural equi component; this key is
    the case with NONE — un-binned, Catalyst's only plan is a nested
    loop over the fact table, which is exactly what cannot run at
    100 TB. Cost = Σ per-bucket |facts|x|probes| — bounded by the
    window/bucket ratio, never |facts|x|probes| overall; both sides
    shuffle once on the bucket key (or the probe side broadcasts when
    small, as here — either way a HASH join, never a loop).

    Day arithmetic is exact integers on both engines (epoch_us DIV
    86400000000 — interval/date arithmetic differs across engines,
    integer division doesn't). Output keeps empty probes (n_near = 0
    via coalesce, so no NULL-bearing BIGINT reaches the driver's
    fetchdf). The probe slice is deterministic (o_orderkey % mod)."""
    us_per_day = 86_400_000_000
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    probes = orders.filter(F.col("o_orderkey") % _PROBE_MOD == 0).select(
        "o_orderkey",
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {us_per_day}").alias(
            "o_day"
        ),
    )
    left = li.select(
        F.expr(f"unix_micros(CAST(l_shipdate AS TIMESTAMP)) DIV {us_per_day}").alias(
            "l_day"
        ),
        "l_extendedprice",
    ).withColumn("bucket", F.expr(f"l_day DIV {_BIN_DAYS}"))
    right = probes.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"(o_day - {_RANGE_DAYS}) DIV {_BIN_DAYS}"),
                F.expr(f"(o_day + {_RANGE_DAYS}) DIV {_BIN_DAYS}"),
            )
        ),
    )
    hits = (
        left.join(right, "bucket")
        .filter(F.abs(F.col("l_day") - F.col("o_day")) <= _RANGE_DAYS)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_extendedprice").alias("s"),
        )
    )
    return probes.join(hits, "o_orderkey", "left").select(
        "o_orderkey",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_near"),
        F.round(F.coalesce(F.col("s"), F.lit(0.0)), 2).alias("sum_near_price"),
    )


# ---------------------------------------------------- runtime bloom filter
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # at shipped test SFs the probe scan is far below the default 10 GB
    # application-side threshold, so lower it to exercise the rewrite;
    # at 100 TB the DEFAULT thresholds fire on exactly this plan shape
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    # broadcast must be off on both planner and AQE sides: a broadcast
    # join already prunes probe rows at the hash table — the bloom
    # rewrite exists for the SHUFFLE join a 100 TB x 100 GB join forces
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lazy) plan under the runtime-bloom-filter conf window: the big
    fact (lineitem) shuffle-joined to a dimension slice carrying a
    SELECTIVE non-key predicate (urgent orders). Split out so
    tests/test_plans.py can pin the injected ``bloom_filter_agg`` /
    ``might_contain`` pair in the optimized plan inside the same window."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "join_bloom_runtime_filter",
    oracle="""
    SELECT o.o_orderstatus, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderstatus
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER join pruning (InjectRuntimeFilter) — the third
    runtime-pruning mechanism in the Catalyst toolkit after static
    partition pruning (E9) and DPP (E9b), and the one that works on
    NON-partition join keys: when one join side carries a selective
    predicate, Catalyst injects ``bloom_filter_agg`` over the creation
    side's join keys as a scalar subquery and wraps the probe side's
    scan in ``might_contain(bloomFilter, xxhash64(key))`` — so fact rows
    whose key cannot possibly survive the join die AT THE SCAN, before
    the shuffle. At 100 TB that is the difference between shuffling the
    whole fact table and shuffling only the ~matching slice; row-level
    runtime filtering composes with (and rescues plans outside) DPP,
    which needs the key to be a partition column. The H-check pins that
    the bloom-filtered join (false positives possible at the filter,
    impossible after the join) produces exactly the unfiltered result.

    Conf window: thresholds lowered so the rewrite fires at test SFs
    (defaults trigger on exactly this shape at cluster scale) and
    broadcast disabled — the rewrite targets shuffle joins. Result is
    materialized eagerly inside the window (the scan_state_store
    lesson: a lazily-returned frame would re-plan under restored
    session defaults); tests/test_plans.py pins the injected filter in
    the optimized plan."""
    with conf_guard(spark, _BLOOM_CONFS):
        return bloom_join_frame(spark, sf_dir).localCheckpoint(eager=True)


# ---------------------------------------------------- as-of with tolerance
_ASOF_TOL_US = 15 * 60 * 1_000_000  # 15-minute match window


@query(
    "join_asof_tolerance",
    oracle=f"""
    SELECT p.event_id AS purchase_id,
           -- DOUBLE both sides: the matched columns are NULL-bearing
           -- (J8's fetchdf rule)
           CAST(CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= {_ASOF_TOL_US}
                     THEN c.event_id END AS DOUBLE) AS click_id,
           CAST(CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= {_ASOF_TOL_US}
                     THEN epoch_us(p.ts) - epoch_us(c.ts) END
                AS DOUBLE) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas ``merge_asof(tolerance=...)``,
    kdb ``wj`` within-window semantics): each purchase takes the user's
    most recent prior click ONLY if it happened within 15 minutes —
    stale context is worse than none for attribution/feature joins.
    Same scalable union + running-``last(ignorenulls)`` rewrite as J8
    (one shuffle, one ordered pass per key, no candidate blow-up), but
    the navigation struct carries the click's TIMESTAMP alongside its
    id so the tolerance test is a row-local filter after the window —
    the oracle spells the identical semantics as DuckDB ASOF + a CASE
    on the matched age. Gap arithmetic in exact integer epoch-micros;
    both nullable outputs CAST DOUBLE (J8's fetchdf rule)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.struct(
            # events.ts loads as TIMESTAMP_NTZ; unix_micros wants TZ —
            # the session is UTC-pinned so the cast is exact
            F.unix_micros(F.col("ts").cast("timestamp")).alias("c_us"),
            F.col("event_id").alias("click_id"),
        ).alias("c"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None)
        .cast("struct<c_us:long,click_id:long>")
        .alias("c"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.col("lc.c_us")
    in_tol = gap <= _ASOF_TOL_US
    return (
        clicks.unionByName(purchases)
        .withColumn("lc", F.last("c", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "purchase_id",
            F.when(in_tol, F.col("lc.click_id")).cast("double").alias("click_id"),
            F.when(in_tol, gap).cast("double").alias("gap_us"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH dim AS (
        SELECT nullif(n_nationkey % 5, 3) AS dim_key,
               count(*) AS n_nations
        FROM nation
        GROUP BY nullif(n_nationkey % 5, 3)
    ),
    fact AS (
        SELECT c_custkey, nullif(c_nationkey % 5, 3) AS fact_key
        FROM customer
    )
    SELECT f.c_custkey,
           CAST(f.fact_key AS DOUBLE) AS fact_key,
           CAST(d.n_nations AS BIGINT) AS n_nations
    FROM fact f
    JOIN dim d ON f.fact_key IS NOT DISTINCT FROM d.dim_key
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi join (J14, ``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantic every
    "join on a nullable business key" pipeline needs and plain ``=``
    silently breaks (a NULL-keyed fact row never joins, even to a
    NULL-keyed dim row). Keys are nullified deterministically
    (``nullif(key % 5, 3)``) so both sides carry a real NULL group; the
    H-check pins that NULL-keyed customers DO land on the NULL dim row
    with the right dim payload. ``<=>`` keeps the join an EQUI join
    plan-wise (hashable null-safe keys — no nested-loop fallback); the
    nullable int output rides the r6 fetchdf contract (CAST DOUBLE).

    Scale: an ordinary broadcast/shuffle hash join — null-safe equality
    hashes NULL as a regular bucket; skewed NULL groups salt like any
    hot key."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    dim = n.groupBy(
        F.nullif(F.col("n_nationkey") % 5, F.lit(3)).alias("dim_key")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_nations"))
    fact = c.select(
        "c_custkey",
        F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("fact_key"),
    )
    joined = fact.join(
        F.broadcast(dim), fact["fact_key"].eqNullSafe(dim["dim_key"])
    )
    return joined.select(
        "c_custkey",
        F.col("fact_key").cast("double").alias("fact_key"),
        F.col("n_nations"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'click'),
    ranked AS (
        SELECT p.event_id AS purchase_id, c.event_id AS cid,
               row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                            c.ts, c.event_id) AS rn
        FROM p JOIN c ON p.user_id = c.user_id
    )
    SELECT p.event_id AS purchase_id,
           -- DOUBLE: nullable id column (unmatched purchases) — the
           -- join_asof fetchdf rule
           CAST(r.cid AS DOUBLE) AS click_id
    FROM p LEFT JOIN (SELECT purchase_id, cid FROM ranked WHERE rn = 1) r
      ON r.purchase_id = p.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction (J15): each purchase matched to the
    user's click with the smallest |ts gap| in EITHER direction — the
    sensor-fusion / attribution variant (backward-only as-of mis-scores
    a click milliseconds after the purchase event's clock skew). Tie
    contract, pinned identically on both engines: smaller absolute gap
    first, then earlier click ts (so an equidistant backward click
    beats the forward one), then smaller click id.

    Spark side stays the scalable union + single-ordered-pass shape of
    join_asof — NO per-user candidate blow-up (the oracle's all-pairs
    rank is fine at oracle SF; at 100 TB it's quadratic in per-user
    activity): one union, one shuffle on user_id, TWO window passes over
    the same sorted runs (a forward scan carrying the latest click at or
    before each purchase, a backward scan carrying the earliest click
    strictly after), then an in-row arbiter applies the tie contract to
    the two candidates. Equal-ts clicks resolve inside the pass via the
    window order's click-id tiebreak, matching the contract exactly."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("purchase_id"),
    )
    unioned = clicks.unionByName(purchases).withColumn(
        # events ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the
        # UTC-session cast is gap-free and the arbiter only reads DIFFS,
        # which any fixed offset cancels out of
        "us",
        F.unix_micros(F.col("ts").cast("timestamp")),
    )
    # backward pass: among clicks with ts <= purchase ts the contract
    # wants max ts, then MIN click id — order click ids DESCENDING so
    # last() lands on the smallest id within the tied-ts run; clicks
    # sort before purchases at equal ts (kind 0 < 1) so a simultaneous
    # click is visible (gap 0 always wins via the earlier-ts rule).
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.col("click_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward pass: among clicks strictly after, min ts then MIN id.
    # Walk DESCENDING ts; kind desc puts the purchase BEFORE same-ts
    # clicks in the walk, so equal-ts clicks are invisible to the
    # forward side (they belong to the backward side). Within a tied-ts
    # run of forward clicks, last() picks the row nearest the current
    # one — order click ids DESCENDING (mirroring w_back) so that last
    # row is the SMALLEST id, matching the oracle's `ORDER BY abs(gap),
    # c.ts, c.event_id` tiebreak (ADVICE r13: ascending here picked the
    # largest id on duplicate-ts forward clicks).
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc(),
            F.col("kind").desc(),
            F.col("click_id").desc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = (
        unioned.withColumn(
            "b_id", F.last("click_id", ignorenulls=True).over(w_back)
        )
        .withColumn(
            "b_us",
            F.last(
                F.when(F.col("kind") == 0, F.col("us")), ignorenulls=True
            ).over(w_back),
        )
        .withColumn(
            "f_id", F.last("click_id", ignorenulls=True).over(w_fwd)
        )
        .withColumn(
            "f_us",
            F.last(
                F.when(F.col("kind") == 0, F.col("us")), ignorenulls=True
            ).over(w_fwd),
        )
    )
    back_gap = F.col("us") - F.col("b_us")
    fwd_gap = F.col("f_us") - F.col("us")
    pick_back = F.col("b_id").isNotNull() & (
        F.col("f_id").isNull() | (back_gap <= fwd_gap)
    )
    return (
        stepped.filter(F.col("kind") == 1)
        .select(
            "purchase_id",
            F.when(pick_back, F.col("b_id"))
            .otherwise(F.col("f_id"))
            .cast("double")
            .alias("click_id"),
        )
    )
