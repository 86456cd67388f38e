"""Graph analytics over the near-dup similarity graph (SURVEY §2.12
T13/T14) — the join-based and iterative graph surfaces beyond T7's
connected components and T11's PageRank.

Two graphs feed the keys: the LSH near-dup pair graph
(``dedup_minhash_lsh`` — tiny relative to the corpus at any scale, so
iterative analytics over it are joins on the duplicate subgraph, never a
corpus scan) for the BFS key, and the part co-purchase graph (real
triangle structure at every SF) for triangle counting."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .llm_text import (
    _EDGES_SQL,
    _WEDGES_SQL,
    connected_components,
    lsh_sym_edges,
)

# Oracle prelude for the LSH-graph keys: the exact >=0.7 shingle-Jaccard
# pair graph (identical to the graph dedup_minhash_lsh H-checks) plus its
# symmetrization and degree table. MATERIALIZED: each is referenced
# several times downstream (and from recursive terms in the BFS oracle,
# where an unmaterialized CTE is re-evaluated every iteration).
_LSH_GRAPH_PRELUDE = f"""
    edges AS MATERIALIZED ({_EDGES_SQL}),
    sym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM edges
            UNION SELECT b_id, a_id FROM edges),
    deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY src)
"""


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient of a
    CANONICAL edge list ``(a_id, b_id)`` with a_id < b_id, no duplicates
    → ``(node, degree, n_triangles, clustering_coeff)``.

    Algorithm: DEGREE-ORIENTED wedge enumeration (Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer" —
    public paper): orient every edge from the (degree, id)-smaller
    endpoint to the larger, then close each oriented edge's wedges via
    out-neighborhood intersection (the r18 shape below). Out-degree
    is bounded by O(sqrt(m)) under this orientation, so wedge volume is
    O(m^1.5) even with skewed hubs — a canonical-id orientation (what a
    straight SQL triple-join does) instead puts every hub wedge on
    whichever neighbor has the smallest id and melts the one reducer
    that owns it at scale.

    Exactness: every triangle has a unique (degree, id)-minimal apex a
    with oriented edges a→b, a→c, b→c, so it is found exactly once — at
    oriented edge (a, b), as c ∈ N⁺(a) ∩ N⁺(b) (b's out-neighborhood
    contains c, c's contains neither). Per-node credit explodes the 3
    roles and re-aggregates. Clustering coefficient = 2T / (d(d-1)) is
    NULL-guarded for d < 2 (ANSI division).

    r18 shape (optimization round): wedges are INTERSECTED, never
    materialized. The r1–r17 plan enumerated every wedge as a row
    (self-join on the apex, Σ C(outdeg,2) rows — 41.1M at sf0.1 vs
    1.2M edges, exact count) and shuffled that multiset into a
    closing-edge join;
    only the closed ~3% survived. Now the out-neighborhood is packed
    once per node (collect_list after the orientation — bounded at
    O(√m) elements by the orientation, so the array is capped by
    construction, never a hub-sized blob) and each oriented edge (u,v)
    closes its wedges in-row via array_intersect(N⁺(u), N⁺(v)): the
    wedge volume becomes per-task intersection work on co-located
    arrays instead of shuffle rows — the guide-§2.4 "remove the
    exchange outright" move. Identical triangle set by the apex
    argument above (unit-pinned on clique/path/hub graphs; H-check
    hash unchanged at sf0.001/0.01/0.1)."""
    pairs = pairs.localCheckpoint()  # two consumers: sym union + orientation join
    sym = pairs.union(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("src").alias("node"), "degree")
        .localCheckpoint()
    )
    # orient: src = (degree, id)-smaller endpoint — a total order (ids
    # are distinct, so full ties are impossible)
    da = deg.select(F.col("node").alias("a_id"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b_id"), F.col("degree").alias("deg_b"))
    ranked = pairs.join(da, "a_id").join(db, "b_id")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a_id") < F.col("b_id"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a_id")).otherwise(F.col("b_id")).alias("u"),
        F.when(a_first, F.col("b_id")).otherwise(F.col("a_id")).alias("v"),
    ).localCheckpoint()
    # out-neighborhood per node: ≤ O(√m) elements under this orientation,
    # so the collected array is bounded by construction (not data-sized)
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    tri = (
        oriented.join(
            adj.select(F.col("u").alias("ua"), F.col("nbrs").alias("u_nbrs")),
            F.col("u") == F.col("ua"),
        )
        .join(
            adj.select(F.col("u").alias("ub"), F.col("nbrs").alias("v_nbrs")),
            F.col("v") == F.col("ub"),
        )
        .select(
            "u",
            F.col("v").alias("v1"),
            F.explode(F.array_intersect("u_nbrs", "v_nbrs")).alias("v2"),
        )
    )
    pern = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return deg.join(pern, "node", "left").select(
        "node",
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                (2 * F.coalesce("n_triangles", F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ),
        ).alias("clustering_coeff"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH
    op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS a_id, b.l_partkey AS b_id
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT a_id AS node FROM edges
              UNION ALL SELECT b_id FROM edges)
        GROUP BY node
    ),
    tri AS (
        SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
        FROM edges e1
        JOIN edges e2 ON e2.a_id = e1.b_id
        JOIN edges e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
    ),
    pern AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY node
    )
    SELECT d.node, d.degree,
           CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN round(CAST(2 * coalesce(p.n_triangles, 0) AS DOUBLE)
                           / (d.degree * (d.degree - 1)), 6)
                END AS clustering_coeff
    FROM deg d LEFT JOIN pern p ON p.node = d.node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient (T13) over
    the part CO-PURCHASE graph — parts are linked when some order
    contains both (the market-basket projection, the canonical
    recommender/affinity graph). Chosen over the LSH near-dup graph
    because the co-purchase graph carries real triangle structure at
    every SF (413k triangles at sf0.01; the near-dup graph has ZERO, so
    a hash there would pin nothing — the synthetic-graph unit tests pin
    chains/cliques/hubs instead, and `triangle_counts` is graph-
    agnostic).

    Graph build: distinct (order, part) pairs → within-order self-join
    (p1 < p2) → distinct edges. Pair volume per order is C(k,2) with k
    bounded by the basket size (TPC-H: <= 7 lineitems/order) — the
    standard market-basket bound; a heavy-basket corpus caps k first.
    Counting: degree-oriented wedge enumeration, O(m^1.5) — see
    `triangle_counts`. The oracle is the straight canonical triple-join
    (exact, fine at oracle SF); both enumerate the identical triangle
    set exactly once."""
    return triangle_counts(copurchase_edges(spark, sf_dir))


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical part co-purchase edge list ``(a_id, b_id)``, a_id < b_id
    (the graph_triangle_count substrate; also used by plan_lint's
    max-out-degree triage measurement)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("a_id"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("b_id"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def max_oriented_outdegree(pairs: DataFrame) -> int:
    """Measured max out-degree of a canonical edge list under the
    (degree, id) orientation — the O(sqrt m) bound `triangle_counts`'
    adjacency ``collect_list`` relies on. plan_lint emits this next to
    the collect_list flag (VERDICT r18 item 6) so the bound is a checked
    number at the lint SF, not a docstring claim. Same orientation
    expression as `triangle_counts` (kept in lockstep)."""
    sym = pairs.union(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )
    da = deg.select(F.col("node").alias("a_id"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("b_id"), F.col("degree").alias("deg_b"))
    ranked = pairs.join(da, "a_id").join(db, "b_id")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a_id") < F.col("b_id"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a_id")).otherwise(F.col("b_id")).alias("u")
    )
    row = (
        oriented.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


_BFS_MAX_HOPS = 8


@query(
    "graph_bfs_distance",
    oracle=f"""
    WITH RECURSIVE
    {_LSH_GRAPH_PRELUDE},
    reach(n, m) AS (
        SELECT node, node FROM deg
        UNION
        SELECT r.n, s.dst FROM reach r JOIN sym s ON r.m = s.src
    ),
    comp AS (SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
    walk(node, dist) AS (
        SELECT component, 0 FROM (SELECT DISTINCT component FROM comp)
        UNION
        SELECT s.dst, w.dist + 1
        FROM walk w JOIN sym s ON s.src = w.node
        WHERE w.dist < {_BFS_MAX_HOPS}
    ),
    best AS (SELECT node, min(dist) AS d FROM walk GROUP BY node)
    SELECT c.node, c.component,
           CAST(coalesce(b.d, {_BFS_MAX_HOPS + 1}) AS BIGINT) AS dist_hops
    FROM comp c LEFT JOIN best b ON b.node = c.node
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance from each component's canonical
    keeper (T14): how many near-dup edges separate a document from its
    cluster's elected representative (the min doc_id — the same keeper
    dedup_cluster_cc elects). Distance stratifies clusters for keeper
    trust: direct near-dups of the keeper (dist 1) are safe drops, while
    chain-distant members (dist >= 3) are progressively less similar to
    the keeper under transitive closure and get human-review sampling in
    a real pipeline.

    Semantics: EXACT shortest hop distance for dist <= 8 (_BFS_MAX_HOPS),
    with the sentinel 9 for in-component nodes farther than the cap
    ("beyond-k"). The cap bounds BOTH engines identically —
    Spark runs exactly k relaxation rounds (round i fixes every node at
    distance i; induction gives exactness for d <= k), the oracle's
    recursive walk carries the same ``dist < k`` guard — so the contract
    is k-hop-bounded BFS, not convergence-dependent. Keepers come from
    ``connected_components`` (pointer-jump min-label, O(log diameter),
    loud on non-convergence), replayed by the oracle's transitive
    closure.

    Scale: the frontier relaxation is one join + min-agg per round over
    the (tiny) LSH pair graph — the textbook Pregel/BSP BFS with the
    frontier as a DataFrame, run as bounded_weighted_sp at weight 1
    (lineage truncated every other round, so plans stay flat)."""
    # session-memoized symmetrized edge list (shared with
    # dedup_cluster_cc and graph_pagerank_lsh — see lsh_sym_edges)
    sym = lsh_sym_edges(spark, sf_dir)
    labels = connected_components(sym)
    comp = labels.select("node", F.col("label").alias("component"))
    keepers = comp.filter(F.col("node") == F.col("component")).select("node")
    unit = sym.select("src", "dst", F.lit(1).cast("bigint").alias("w"))
    dist = bounded_weighted_sp(spark, unit, keepers, _BFS_MAX_HOPS)
    return comp.join(dist, "node", "left").select(
        "node",
        "component",
        F.coalesce("dist", F.lit(_BFS_MAX_HOPS + 1)).cast("bigint").alias("dist_hops"),
    )


def _sp_levels_sql(hops: int) -> str:
    """Unrolled Bellman–Ford levels d1..d{hops} for the oracle: each
    level is min-weight over paths of <= i edges from the component
    keepers. MATERIALIZED per level — each d_{i+1} references d_i twice
    (carry + relax), so an unmaterialized chain re-evaluates
    exponentially (the r13 recursive-PageRank lesson applied to a
    non-recursive chain)."""
    parts = []
    for i in range(1, hops + 1):
        parts.append(f"""
    d{i} AS MATERIALIZED (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT s.dst AS node, d.dist + s.w AS dist
            FROM d{i - 1} d JOIN wsym s ON s.src = d.node
        ) GROUP BY node)""")
    return ",".join(parts)


@query(
    "graph_shortest_path",
    oracle=f"""
    WITH RECURSIVE
    wedges AS MATERIALIZED ({_WEDGES_SQL}),
    wsym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst, w FROM wedges
            UNION ALL SELECT b_id, a_id, w FROM wedges),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM wsym),
    reach(n, m) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.n, s.dst FROM reach r JOIN wsym s ON r.m = s.src
    ),
    comp AS MATERIALIZED (
        SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
    d0 AS MATERIALIZED (
        SELECT DISTINCT component AS node, CAST(0 AS BIGINT) AS dist
        FROM comp),
    {_sp_levels_sql(_BFS_MAX_HOPS)}
    SELECT c.node, c.component,
           CAST(coalesce(b.dist, -1) AS BIGINT) AS dist_w
    FROM comp c LEFT JOIN d{_BFS_MAX_HOPS} b ON b.node = c.node
    """,
)
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths (T15, VERDICT r13 item 7):
    Bellman–Ford relaxation from each component's keeper over the LSH
    near-dup graph with dissimilarity weights w = 10^6·(1 - jaccard) —
    "how much cumulative dissimilarity separates a document from its
    cluster representative", the weighted refinement of T14's hop
    count (two hops through 0.99-similar docs is closer than one hop
    through a 0.70 one).

    Semantics: EXACT min total weight over paths of <= 8 edges
    (_BFS_MAX_HOPS), sentinel -1 beyond — round i of Bellman–Ford fixes
    min weight over <= i-edge paths by induction, and the oracle's
    unrolled relaxation levels carry the identical recurrence, so the
    contract is k-hop-bounded weighted SP, not convergence-dependent
    (the BFS-cap discipline). Weights are exact BIGINTs derived from
    the H-checked 6-decimal jaccard (see lsh_sym_edges), so sums are
    bit-equal across engines — float path weights would drift through
    summation order.

    Scale: per round one join + min-agg over the (tiny) LSH pair
    graph — the Pregel SSSP pattern; lineage truncated every other
    round, shuffles sized to the graph (T14 discipline)."""
    sym = lsh_sym_edges(spark, sf_dir)
    labels = connected_components(sym)
    comp = labels.select("node", F.col("label").alias("component"))
    seeds = comp.select(F.col("component").alias("node")).distinct()
    dist = bounded_weighted_sp(spark, sym, seeds, _BFS_MAX_HOPS)
    return comp.join(dist, "node", "left").select(
        "node",
        "component",
        F.coalesce("dist", F.lit(-1)).cast("bigint").alias("dist_w"),
    )


def bounded_weighted_sp(
    spark: SparkSession, sym: DataFrame, seeds: DataFrame, hops: int
) -> DataFrame:
    """``hops`` Bellman–Ford relaxation rounds over a weighted symmetric
    edge list ``(src, dst, w)`` from ``seeds`` (one ``node`` column) →
    ``(node, dist)`` with dist = exact min total weight over paths of
    <= hops edges. Separated from graph_shortest_path so tests can pin
    hand-computed path weights on known graphs (the triangle_counts /
    pagerank_fixed_point device)."""
    from ..session import conf_guard

    dist = seeds.withColumn(
        "dist", F.lit(0).cast("bigint")
    ).localCheckpoint()
    # iteration shuffles sized to the pair graph, not the session default
    # (the pagerank_fixed_point rationale: k eager rounds x 32 mostly-
    # empty tasks is pure scheduler overhead on a near-dup-sized graph)
    with conf_guard(spark, {"spark.sql.shuffle.partitions": "2"}):
        for i in range(hops):
            stepped = (
                sym.join(dist, sym.src == dist.node)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                )
                .unionByName(dist.select("node", "dist"))
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
            )
            # truncate lineage every other round: k chained join+agg
            # plans are fine for Catalyst two-deep, costly eight-deep
            if i % 2 == 1 or i == hops - 1:
                stepped = stepped.localCheckpoint()
            dist = stepped
    return dist
