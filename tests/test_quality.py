"""Accuracy/recall assertions for approximate operators (no cross-engine
oracle exists for these by construction) + determinism checks + property
tests (SURVEY.md §5.2.4)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F

from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.catalog import load_table

from .conftest import SF_UNIT

QUERIES, _ = registry.collect()


def test_approx_count_distinct_accuracy(spark):
    """A3: HLL++ within ±5% of exact — both through the registered key's
    within_5pct flag (the H-checked accuracy contract) and on the raw
    estimate, so a bound-flag bug can't mask a sketch regression."""
    for r in QUERIES["agg_approx"](spark, SF_UNIT).collect():
        assert r["within_5pct"], (r["l_returnflag"], r["exact_parts"])
    approx = {
        r["l_returnflag"]: r["n"]
        for r in load_table(spark, SF_UNIT, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("n"))
        .collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in load_table(spark, SF_UNIT, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) <= max(2, 0.05 * n), (flag, approx[flag], n)


def test_sample_seeded_deterministic(spark):
    a = {r["o_orderkey"] for r in QUERIES["sample_seeded"](spark, SF_UNIT).collect()}
    b = {r["o_orderkey"] for r in QUERIES["sample_seeded"](spark, SF_UNIT).collect()}
    assert a == b
    n = load_table(spark, SF_UNIT, "orders").count()
    assert 0.03 * n < len(a) < 0.25 * n


def test_minhash_lsh_recall(spark):
    """LSH must recover the genuinely near-duplicate pairs: every pair with
    exact shingle-Jaccard ≥ 0.8 (well above the 0.7 verify threshold, where
    12-hash/4-band collision probability is ≈ 1-(1-0.8^3)^4 ≈ 0.95)."""
    lsh_rows = QUERIES["dedup_minhash_lsh"](spark, SF_UNIT).collect()
    lsh = {(r["a_id"], r["b_id"]) for r in lsh_rows}
    exhaustive = {
        (r["a_id"], r["b_id"])
        for r in QUERIES["dedup_ngram_jaccard"](spark, SF_UNIT).collect()
        if r["jaccard"] >= 0.8
    }
    missed = exhaustive - lsh
    assert len(missed) <= max(1, len(exhaustive) // 10), (
        f"LSH missed {len(missed)}/{len(exhaustive)} high-sim pairs"
    )
    # and every returned pair genuinely clears the verify threshold
    # (same collected rows — re-running the whole LSH pipeline for the
    # second assertion doubled this test's cost for nothing)
    assert all(r["jaccard"] >= 0.7 for r in lsh_rows)


def test_ivf_cell_restricted_exactness(spark):
    """IVF correctness property: per probe, the IVF result must equal the
    exact top-5 *within the probe's assigned cell*. (Absolute recall vs
    global brute force is a property of the data's clusterability — this
    corpus's labels are not geometric clusters, so cell-restricted
    exactness is the implementation invariant to pin.)"""
    import numpy as np

    emb = {
        r["vec_id"]: (np.asarray(r["embedding"], dtype="float64"), r["label"])
        for r in load_table(spark, SF_UNIT, "embeddings").collect()
    }
    ivf = {}
    for r in QUERIES["embed_ann_ivf"](spark, SF_UNIT).collect():
        ivf.setdefault(r["probe_id"], []).append((r["rank"], r["neighbor_id"]))
    assert ivf, "IVF returned nothing"
    for probe_id, neighbors in ivf.items():
        neighbors = [n for _, n in sorted(neighbors)]
        cell = emb[neighbors[0]][1]
        assert all(emb[n][1] == cell for n in neighbors), "neighbors span cells"
        p = emb[probe_id][0]

        def cos(v):
            return float(np.dot(p, v) / (np.linalg.norm(p) * np.linalg.norm(v)))

        in_cell = [
            (cos(v), vid)
            for vid, (v, lab) in emb.items()
            if lab == cell and vid != probe_id
        ]
        expected = [vid for _, vid in sorted(in_cell, key=lambda t: (-t[0], t[1]))[:5]]
        assert neighbors == expected, (probe_id, neighbors, expected)


def test_simhash_near_dups_close(spark):
    """Near-dup pairs (high Jaccard) should have small SimHash Hamming
    distance relative to random pairs."""
    sims = {r["doc_id"]: r["simhash"] for r in QUERIES["dedup_simhash"](spark, SF_UNIT).collect()}
    near = [
        (r["a_id"], r["b_id"])
        for r in QUERIES["dedup_near"](spark, SF_UNIT).collect()
        if r["jaccard"] >= 0.8
    ]

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    if near:
        avg_near = sum(ham(sims[a], sims[b]) for a, b in near) / len(near)
        ids = sorted(sims)[:40]
        rand_pairs = [(ids[i], ids[i + 1]) for i in range(0, len(ids) - 1, 2)]
        avg_rand = sum(ham(sims[a], sims[b]) for a, b in rand_pairs) / len(rand_pairs)
        assert avg_near <= avg_rand, (avg_near, avg_rand)


def test_near_dup_sig_bits_knob(spark):
    """The sig_bits occupancy knob (the 100 TB configuration lever —
    expected candidates per band ≈ n²/2^sig_bits) must be a working
    parameter: widening signatures shrinks the candidate set, never
    invents pairs, and the default call stays the oracle-pinned 4×8."""
    from sparkstreamingstateful_spark.operators.llm_vector import embed_near_dup

    default = embed_near_dup(spark, SF_UNIT)
    wide = embed_near_dup(spark, SF_UNIT, sig_bits=12)
    assert wide.columns == default.columns
    n_default, n_wide = default.count(), wide.count()
    # occupancy: ~n²/2^8 vs ~n²/2^12 collisions per band — a 16× gap,
    # far outside chance fluctuation at this corpus size
    assert n_wide < n_default, (n_wide, n_default)
    assert n_wide > 0, "12-bit buckets emptied the candidate set at sf0.001"


def test_filter_pushdown_invariance(spark):
    """Property: filter∘join ≡ join∘filter (Catalyst pushdown soundness)."""
    o = load_table(spark, SF_UNIT, "orders")
    c = load_table(spark, SF_UNIT, "customer")
    pred = F.col("o_totalprice") > 200000
    a = o.join(c, o.o_custkey == c.c_custkey).filter(pred)
    b = o.filter(pred).join(c, o.o_custkey == c.c_custkey)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_write_roundtrip_csv_json(spark, tmp_path):
    """S6: CSV and JSON round-trips preserve exact integer/string columns."""
    c = load_table(spark, SF_UNIT, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    for fmt in ("csv", "json"):
        out = str(tmp_path / f"rt_{fmt}")
        writer = c.write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", "true").csv(out)
            back = spark.read.schema(c.schema).option("header", "true").csv(out)
        else:
            writer.json(out)
            back = spark.read.schema(c.schema).json(out)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, c.collect()))


def test_shingle_short_doc_safe(spark):
    """r6 review: sequence(0, n-3) on a <3-token doc is descending and
    toks[i+2] crashes under ANSI; _shingle_idx must give short docs an
    EMPTY shingle set (matching the oracles' empty range) and leave
    3-token docs with exactly one shingle."""
    from sparkstreamingstateful_spark.operators.llm_text import (
        _shingle_idx,
        _tokens,
    )

    df = spark.createDataFrame(
        [("one",), ("two tokens",), ("three token doc",), ("a b c d",)],
        "text string",
    )
    out = df.select(
        F.size(_shingle_idx(_tokens())).alias("n_shingles")
    ).collect()
    assert [r["n_shingles"] for r in out] == [0, 0, 1, 2]


def test_quantize_zero_vector(spark):
    """r9 advice: an all-zero embedding (scale = 0) must quantize to
    all-zero checksums, not crash — ANSI mode throws DIVIDE_BY_ZERO even
    for DOUBLE division, so the plan divides by a safe stand-in that the
    checksum guards discard."""
    from sparkstreamingstateful_spark.operators.llm_vector import quantize_int8_plan

    df = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [1.0, -2.0, 0.5, 0.0, 3.0, -1.5, 2.5, 0.25])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8_plan(df).collect()}
    z = rows[1]
    assert (z["scale_r"], z["q_sum"], z["q_abs_sum"], z["max_abs_err"]) == (0.0, 0, 0, 0.0)
    nz = rows[2]
    # scale = 3/127; codes = round(x*127/3) → sum 127+(-85)+21+0+127+(-64)+106+11... 
    # just pin the invariants: L1 ≥ |sum|, max code magnitude is 127 → err < scale/2 + eps
    assert nz["q_abs_sum"] >= abs(nz["q_sum"]) > 0
    assert nz["max_abs_err"] <= nz["scale_r"] / 2 + 1e-6


def test_semdedup_zero_vector(spark):
    """r9: an all-zero embedding must not crash semantic dedup (ANSI
    DIVIDE_BY_ZERO on the norm divisions — the quantize lesson) and must
    land in a cell and be kept (its cosines are 0, under any τ)."""
    from sparkstreamingstateful_spark.operators.llm_vector import semdedup_plan

    df = spark.createDataFrame(
        [
            (1, 0, [0.0] * 4),
            (2, 0, [1.0, 0.0, 0.0, 0.0]),
            (3, 1, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in semdedup_plan(df).collect()}
    assert rows[1]["is_kept"] is True
    assert all(rows[i]["cell"] in (0, 1) for i in (1, 2, 3))


def test_semdedup_cap_binds(spark):
    """r10: the |cell|-capped variant must actually SPLIT an oversized
    cell and stop scoring pairs across the split. A pathological
    single-label corpus of cap+2 identical vectors collapses onto one
    centroid; uncapped, all pairs score ≥ τ and only vec_id 0 survives.
    Capped with m = 2 sub-cells (vec_id % 2), each parity class keeps
    exactly its own lowest id — proving pair work is confined to
    sub-cells (the linear-at-scale guarantee), not just re-labelled."""
    from sparkstreamingstateful_spark.operators.llm_vector import (
        _SEMDEDUP_CELL_CAP,
        semdedup_capped_plan,
        semdedup_plan,
    )

    n = _SEMDEDUP_CELL_CAP + 2
    df = spark.createDataFrame(
        [(i, 0, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, label int, embedding array<float>",
    )
    flat = {r["vec_id"]: r["is_kept"] for r in semdedup_plan(df).collect()}
    assert flat[0] is True and sum(flat.values()) == 1

    rows = {r["vec_id"]: r for r in semdedup_capped_plan(df).collect()}
    assert {r["subcell"] for r in rows.values()} == {0, 1}
    kept = sorted(i for i, r in rows.items() if r["is_kept"])
    assert kept == [0, 1]  # lowest id of each parity sub-cell survives
    assert all(rows[i]["subcell"] == i % 2 for i in range(n))


def test_udf_pandas_iter_init_amortized(spark):
    """U10's reason to exist: one init per TASK, streamed over that
    task's Arrow batches. Observed through the UDF's own output (UDF
    workers are separate processes — driver globals can't see them): a
    per-init uuid is stamped on every row, so distinct uuids == tasks,
    and with the Arrow batch size forced tiny, rows-per-uuid proves many
    batches shared one init."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        @F.pandas_udf("string")
        def tagged(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            import uuid

            tag = uuid.uuid4().hex  # the "model load"
            n_batches = 0
            for b in batches:
                n_batches += 1
                yield pd.Series([f"{tag}:{n_batches}"] * len(b))

        df = spark.range(0, 1000, 1, 2).select(tagged("id").alias("t"))
        rows = [r["t"] for r in df.collect()]
        tags = {t.split(":")[0] for t in rows}
        max_batch_seq = max(int(t.split(":")[1]) for t in rows)
        assert len(tags) == 2, f"expected one init per task (2 tasks), got {len(tags)}"
        assert max_batch_seq >= 5, (
            f"batches never streamed through one init (max seq {max_batch_seq})"
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_decontaminate_short_doc_guard(spark):
    """A train doc with fewer than 5 tokens must contribute zero
    shingles (the guarded sequence) rather than ANSI-crashing or
    producing phantom shingles that could cross-match the eval side."""
    from sparkstreamingstateful_spark.operators.llm_text import (
        _shingle_idx,
        _tokens,
    )

    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    import pyspark.sql.functions as F

    rows = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(_shingle_idx(_tokens(), 5)).alias("n")
        ).collect()
    }
    assert rows == {1: 0, 2: 2}


def test_native_regr_matches_closed_form(spark):
    """agg_linear_regression deliberately spells OLS as exact moment sums
    (double-sum order dependence makes the native accumulators
    un-hash-checkable cross-engine); this pins Spark's OWN regr_slope /
    regr_intercept / regr_r2 against that closed form to 1e-9 relative,
    so the built-in aggregate surface is exercised and the closed form
    is proven to BE ordinary least squares, not merely self-consistent."""
    li = load_table(spark, SF_UNIT, "lineitem")
    x = F.round(F.col("l_quantity")).cast("bigint")
    y = F.round(F.col("l_extendedprice")).cast("bigint")
    native = {
        r["l_returnflag"]: r
        for r in li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.expr("regr_slope(y, x)").alias("slope"),
            F.expr("regr_intercept(y, x)").alias("intercept"),
            F.expr("regr_r2(y, x)").alias("r2"),
        )
        .collect()
    }
    closed = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_linear_regression"](spark, SF_UNIT).collect()
    }
    assert set(native) == set(closed) and len(native) == 3
    for flag, n in native.items():
        c = closed[flag]
        for col in ("slope", "intercept", "r2"):
            rel = abs(n[col] - c[col]) / max(abs(c[col]), 1e-12)
            assert rel < 1e-9, (flag, col, n[col], c[col])


def test_pagerank_fixed_point_known_graphs(spark):
    """graph_pagerank_lsh's integer PageRank core pinned on hand-computed
    graphs: (a) a triangle is 2-regular, so S is the exact fixed point
    from iteration 0; (b) a 3-path's ranks must equal a pure-Python
    replay of the same integer recurrence (floor-div and all)."""
    from sparkstreamingstateful_spark.operators.llm_text import (
        _PR_ITERS,
        _PR_SCALE,
        _PR_TELEPORT,
        pagerank_fixed_point,
    )

    tri_edges = [(0, 1), (1, 2), (0, 2)]
    sym = spark.createDataFrame(
        tri_edges + [(b, a) for a, b in tri_edges], "src long, dst long"
    )
    got = {r.node: r.r for r in pagerank_fixed_point(spark, sym).collect()}
    assert got == {0: _PR_SCALE, 1: _PR_SCALE, 2: _PR_SCALE}

    # path 0-1-2: deg 1,2,1 — replay the recurrence exactly in Python
    path_edges = [(0, 1), (1, 2)]
    sym2 = spark.createDataFrame(
        path_edges + [(b, a) for a, b in path_edges], "src long, dst long"
    )
    r = {0: _PR_SCALE, 1: _PR_SCALE, 2: _PR_SCALE}
    deg = {0: 1, 1: 2, 2: 1}
    for _ in range(_PR_ITERS):
        c = {n: r[n] // deg[n] for n in r}
        infl = {0: c[1], 1: c[0] + c[2], 2: c[1]}
        r = {n: _PR_TELEPORT + (85 * infl[n]) // 100 for n in r}
    got2 = {row.node: row.r for row in pagerank_fixed_point(spark, sym2).collect()}
    assert got2 == r


def test_ann_recall_consistency(spark):
    """embed_ann_recall invariants: the probe panel is complete, n_exact
    is the full top-10, hits are bounded by it, recall columns are pure
    arithmetic over the hit counts, and the nprobe monotonicity theorem
    (candidate-set growth can only add hits) holds on every probe."""
    from sparkstreamingstateful_spark.operators.llm_vector import PROBE_IDS

    rows = QUERIES["embed_ann_recall"](spark, SF_UNIT).collect()
    assert sorted(r.probe_id for r in rows) == sorted(PROBE_IDS)
    for r in rows:
        assert r.n_exact == 10
        assert 0 <= r.hits_nprobe1 <= r.hits_nprobe3 <= r.n_exact
        assert r.recall_nprobe1 == r.hits_nprobe1 / r.n_exact
        assert r.recall_nprobe3 == r.hits_nprobe3 / r.n_exact
        assert r.monotone_ok


def test_udtf_table_arg_matches_window_replay(spark):
    """The TABLE-arg UDTF's per-partition top-3 must equal the window
    -function replay computed by Spark itself — mis-partitioning or
    mis-ordering of the row stream would change WHICH rows survive,
    not just their order."""
    from pyspark.sql import Window

    got = sorted(
        map(tuple, QUERIES["udtf_table_arg"](spark, SF_UNIT).collect())
    )
    ev = load_table(spark, SF_UNIT, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id"
    )
    want = sorted(
        map(
            tuple,
            ev.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= 3)
            .select("user_id", "rnk", "event_id", "value")
            .collect(),
        )
    )
    assert got == want


def test_triangle_counts_known_graphs(spark):
    """graphs.triangle_counts pinned on hand-built graphs: a 4-clique
    (every node: 3 triangles, coefficient 1.0), a 4-path (zero
    triangles, coefficient 0 where defined, NULL at degree-1 ends), and
    a hub star + one closing rim edge (exactly one triangle credited to
    its 3 corners) — the degree-oriented wedge enumeration must count
    each triangle once regardless of hub skew."""
    from sparkstreamingstateful_spark.operators.graphs import triangle_counts

    def run(edges):
        df = spark.createDataFrame(edges, "a_id long, b_id long")
        return {r.node: r for r in triangle_counts(df).collect()}

    clique = run([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)])
    assert all(clique[n].n_triangles == 3 for n in range(4))
    assert all(clique[n].degree == 3 for n in range(4))
    assert all(clique[n].clustering_coeff == 1.0 for n in range(4))

    path = run([(0, 1), (1, 2), (2, 3)])
    assert all(path[n].n_triangles == 0 for n in range(4))
    assert path[0].clustering_coeff is None  # degree 1: undefined
    assert path[1].clustering_coeff == 0.0

    # star hub 0 with rim 1..5, plus one rim edge closing (1,2)
    star = run([(0, r) for r in range(1, 6)] + [(1, 2)])
    assert star[0].n_triangles == 1 and star[0].degree == 5
    assert star[1].n_triangles == 1 and star[2].n_triangles == 1
    assert all(star[r].n_triangles == 0 for r in (3, 4, 5))
    # hub coefficient: 1 triangle over C(5,2)=10 possible rim pairs
    assert star[0].clustering_coeff == 0.1


def test_bfs_distance_chain_beyond_cap(spark):
    """graph_bfs_distance semantics pinned where the real corpus can't
    reach: a 12-node chain has keeper 0 (component min) and hop
    distances 0..11, so nodes past the 8-hop cap must surface the
    sentinel 9 — exact distance below the cap, capped marker beyond.
    The relaxation is graph_bfs_distance's own: bounded_weighted_sp at
    weight 1 from the component keepers."""
    from sparkstreamingstateful_spark.operators.graphs import (
        _BFS_MAX_HOPS,
        bounded_weighted_sp,
        connected_components,
    )
    from pyspark.sql import functions as F

    chain = [(i, i + 1) for i in range(11)]
    pairs = spark.createDataFrame(chain, "a_id long, b_id long")
    sym = pairs.union(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    labels = connected_components(sym)
    comp = labels.select("node", F.col("label").alias("component"))
    keepers = comp.filter(F.col("node") == F.col("component")).select("node")
    unit = sym.select("src", "dst", F.lit(1).cast("bigint").alias("w"))
    dist = bounded_weighted_sp(spark, unit, keepers, _BFS_MAX_HOPS)
    got = {
        r.node: r.dist_hops
        for r in comp.join(dist, "node", "left")
        .select(
            "node",
            F.coalesce("dist", F.lit(_BFS_MAX_HOPS + 1))
            .cast("bigint")
            .alias("dist_hops"),
        )
        .collect()
    }
    want = {n: (n if n <= _BFS_MAX_HOPS else _BFS_MAX_HOPS + 1) for n in range(12)}
    assert got == want


def test_count_min_width1_degenerate(spark):
    """count_min_estimates with width=1 collapses every key into one
    cell per row, so every estimate must equal N exactly — pins that
    updates are never dropped and the min-over-rows read path works."""
    from sparkstreamingstateful_spark.operators.aggregation import (
        count_min_estimates,
    )

    kc = spark.createDataFrame(
        [(1, 5), (2, 3), (3, 42)], "key long, c long"
    )
    probes = spark.createDataFrame([(1,), (2,), (99,)], "probe_key long")
    got = {
        r.probe_key: r.est
        for r in count_min_estimates(kc, probes, depth=3, width=1).collect()
    }
    assert got == {1: 50, 2: 50, 99: 50}


def test_count_min_flags_hold_at_unit_sf(spark):
    """agg_count_min_sketch's H-checked contract flags must hold at the
    unit SF too (the driver pins sf0.01; this pins sf0.001)."""
    for r in QUERIES["agg_count_min_sketch"](spark, SF_UNIT).collect():
        assert r.never_undercounts and r.within_bound, r


def test_containment_is_directional(spark):
    """dedup_containment semantics on the real corpus: every reported
    pair's containment is in [tau, 1], and the relation is genuinely
    DIRECTIONAL — at least one (a, b) either has no (b, a) in the
    output or reports a different containment (equal values both ways
    would mean the key degenerates to symmetric Jaccard)."""
    rows = QUERIES["dedup_containment"](spark, SF_UNIT).collect()
    assert rows, "corpus should contain containment pairs at sf0.001"
    got = {(r.a_id, r.b_id): r.containment for r in rows}
    for (a, b), c in got.items():
        assert 0.8 <= c <= 1.0, (a, b, c)
    # directionality: the sf0.001 corpus has 16 directional pairs but
    # only 15 at tau=0.9 (measured) — at least one (a,b) has no (b,a)
    # with equal containment; weaker but structural: reverse pairs may
    # exist, yet containment values differ unless |A|=|B|
    asym = [
        (a, b) for (a, b) in got
        if (b, a) not in got or got[(b, a)] != got[(a, b)]
    ]
    assert asym, "expected at least one asymmetric containment direction"


def test_kmeans_fixed_known_clusters(spark):
    """kmeans_fixed_plan pinned on a constructed 2-cluster layout: two
    tight groups around opposite corners; with first-k init (vec 0 in
    group A, vec 1 in group B) every point must land with its group and
    sizes must report 3/3. Also pins _tdiv truncation on negatives."""
    from sparkstreamingstateful_spark.operators.llm_vector import (
        _KM_DIM,
        _tdiv,
        kmeans_fixed_plan,
    )

    assert _tdiv(-7, 2) == -3 and _tdiv(7, 2) == 3 and _tdiv(-8, 2) == -4

    lo = [0.0] * _KM_DIM
    hi = [1.0] * _KM_DIM
    rows = [
        (0, [v + 0.01 for v in lo]),
        (1, [v - 0.01 for v in hi]),
        (2, [v + 0.02 for v in lo]),
        (3, [v - 0.02 for v in hi]),
        (4, [v + 0.03 for v in lo]),
        (5, [v - 0.03 for v in hi]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: r
        for r in kmeans_fixed_plan(e, k=2, iters=2).collect()
    }
    assert {got[v].cluster for v in (0, 2, 4)} == {0}
    assert {got[v].cluster for v in (1, 3, 5)} == {1}
    assert all(got[v].cluster_size == 3 for v in got)
    # within-group distances are small, cross-group would be ~64e12
    assert all(got[v].dist_fixed < 10**10 for v in got)


def test_kmeans_fixed_parts_match_sliced_runs(spark):
    """kmeans_fixed_train with parts=4 trains the four subspace codebooks
    in one grouped loop; each part must return exactly the codebook and
    the (vec_id, cluster, dist_fixed) rows of a parts=1 run over that
    F.slice'd subspace alone — the guarantee PQ training relies on."""
    import random

    from sparkstreamingstateful_spark.operators.llm_vector import (
        _KM_DIM,
        kmeans_fixed_train,
    )

    parts, sub, k, iters = 4, _KM_DIM // 4, 3, 3
    rng = random.Random(11)
    rows = [
        (v, [rng.uniform(-1.0, 1.0) for _ in range(_KM_DIM)])
        for v in range(24)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stacked, cents = kmeans_fixed_train(
        e, k=k, iters=iters, dim=_KM_DIM, parts=parts
    )
    got = {p: set() for p in range(parts)}
    for r in stacked.collect():
        got[r.part].add((r.vec_id, r.cluster, r.dist_fixed))
    assert sorted(cents) == list(range(parts))
    for p in range(parts):
        sliced = e.select(
            "vec_id", F.slice("embedding", p * sub + 1, sub).alias("embedding")
        )
        res, one = kmeans_fixed_train(sliced, k=k, iters=iters, dim=sub)
        assert cents[p] == one[0]
        assert got[p] == {
            (r.vec_id, r.cluster, r.dist_fixed) for r in res.collect()
        }
        assert len(got[p]) == len(rows)


def test_holt_linear_replay(spark):
    """events_holt_linear's recurrence replayed in pure Python (with
    truncating division) over one event type's hourly series — pins the
    in-row fold against an independent scalar implementation,
    negative-trend (declining) stretches included."""
    from sparkstreamingstateful_spark.operators.llm_vector import _tdiv

    rows = sorted(
        (
            r
            for r in QUERIES["events_holt_linear"](spark, SF_UNIT).collect()
            if r.event_type == "click"
        ),
        key=lambda r: r.win_start,
    )
    assert rows
    l = b = None
    for i, r in enumerate(rows):
        if i == 0:
            l, b = r.sum_v_c, 0
        else:
            nl = _tdiv(r.sum_v_c + l + b, 2)
            b = _tdiv(nl - l + b, 2)
            l = nl
        assert (r.level_c, r.trend_c, r.forecast_c) == (l, b, l + b), (
            i, r, l, b,
        )
    assert any(r.trend_c < 0 for r in rows), "declining stretches expected"


def test_asof_nearest_tie_breaks_on_min_click_id(spark, tmp_path_factory):
    """ADVICE r13 regression: duplicate-ts clicks in the FORWARD window
    must resolve to the SMALLEST click id (the oracle's ORDER BY
    abs(gap), c.ts, c.event_id) — the shipped w_fwd ordered ids
    ascending, so last() picked the LARGEST. No same-user duplicate-ts
    clicks exist at any shipped SF, so this pins the contract on
    synthetic events covering forward ties, backward ties, and the
    equidistant case (backward wins via the earlier-ts rule)."""
    import datetime as dt

    from sparkstreamingstateful_spark.catalog import SCHEMAS
    from sparkstreamingstateful_spark.operators.joins import join_asof_nearest

    def ev(eid, sec, uid, typ):
        return (eid, dt.datetime(2024, 1, 1, 0, 0, sec), uid, typ, 1.0, "{}")

    rows = [
        # forward tie: purchase t=8; clicks 5 and 7 both t=10 -> 5
        ev(1, 8, 1, "purchase"), ev(5, 10, 1, "click"), ev(7, 10, 1, "click"),
        # backward tie: purchase t=20; clicks 11 and 13 both t=18 -> 11
        ev(2, 20, 2, "purchase"), ev(11, 18, 2, "click"), ev(13, 18, 2, "click"),
        # equidistant: clicks at t=28 and t=32 around purchase t=30 ->
        # backward (21) via the earlier-ts tiebreak
        ev(3, 30, 3, "purchase"), ev(21, 28, 3, "click"), ev(23, 32, 3, "click"),
        # forward-only: purchase t=40, single later click
        ev(4, 40, 4, "purchase"), ev(31, 45, 4, "click"),
        # unmatched purchase
        ev(6, 50, 5, "purchase"),
    ]
    d = tmp_path_factory.mktemp("asof_tie")
    spark.createDataFrame(rows, SCHEMAS["events"]).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    got = {
        r.purchase_id: r.click_id
        for r in join_asof_nearest(spark, str(d)).collect()
    }
    assert got == {1: 5.0, 2: 11.0, 3: 21.0, 4: 31.0, 6: None}


def test_bounded_weighted_sp_known_graph(spark):
    """graph_shortest_path's relaxation core pinned where the corpus
    can't reach: a graph where the MORE-hop path is LIGHTER (0-1-2-3 at
    weight 1 each vs the direct 0-3 edge at weight 10) must return the
    3-hop weight 3; a node beyond the hop cap stays unreached (no row)."""
    from pyspark.sql import functions as F

    from sparkstreamingstateful_spark.operators.graphs import (
        bounded_weighted_sp,
    )

    edges = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10), (3, 4, 1), (4, 5, 1)]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long, w long")
    sym = pairs.union(
        pairs.select("b_id", "a_id", "w")
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"), "w")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.dist
        for r in bounded_weighted_sp(spark, sym, seeds, hops=3).collect()
    }
    # hops=3: node 3 via the light chain (3), node 4 NOT reachable in 3
    # hops via the light chain but IS via 0-3(10)+3-4(1) = 11
    assert got[0] == 0 and got[1] == 1 and got[2] == 2 and got[3] == 3
    assert got[4] == 11
    # node 5 IS reachable in exactly 3 hops (0-3 w=10, 3-4, 4-5) = 12;
    # a hard pin so a relaxation that drops the last frontier fails
    # loudly (ADVICE r14).
    assert got[5] == 12
    got8 = {
        r.node: r.dist
        for r in bounded_weighted_sp(spark, sym, seeds, hops=8).collect()
    }
    assert got8 == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_lsh_sym_edges_memoized_per_session(spark):
    """VERDICT r13 item 4: the graph family shares ONE edge build per
    (session, corpus) — repeated calls must return the identical
    materialized DataFrame object, not re-run the LSH pipeline."""
    from sparkstreamingstateful_spark.operators.llm_text import lsh_sym_edges

    a = lsh_sym_edges(spark, SF_UNIT)
    b = lsh_sym_edges(spark, SF_UNIT)
    assert a is b
    assert set(a.columns) == {"src", "dst", "w"}
    # weights are exact BIGINT dissimilarities in [0, 300000] (j >= 0.7)
    r = a.agg(
        F.min("w").alias("lo"), F.max("w").alias("hi")
    ).collect()[0]
    assert r.lo >= 0 and r.hi <= 300_000


def test_bpe_rounds_known_vocab(spark):
    """text_bpe_train's merge loop pinned on a hand-computed vocabulary:
    words 'aaab'x3 + 'ab'x2. Round 1 must pick ('a a', 6) and — the
    documented non-overlapping boundary-replace contract — fuse only the
    FIRST pair of the 'a a a' run; round 2 picks ('a b', 5) (the 'aa a'
    wedge lost), round 3 closes ('aa ab', 3); a 4th round has no pairs
    left and must fail LOUDLY (a short merge table would silently
    hash-mismatch the oracle)."""
    import pytest as _pytest

    from sparkstreamingstateful_spark.operators.llm_text import _bpe_rounds

    cur = spark.createDataFrame(
        [("a a a b", 3), ("a b", 2)], "seq string, cnt long"
    ).localCheckpoint()
    got = _bpe_rounds(cur, merges=3)
    assert got == [
        (1, "a a", "aa", 6),
        (2, "a b", "ab", 5),
        (3, "aa ab", "aaab", 3),
    ]
    cur2 = spark.createDataFrame(
        [("a a a b", 3), ("a b", 2)], "seq string, cnt long"
    ).localCheckpoint()
    with _pytest.raises(RuntimeError, match="no pairs left"):
        _bpe_rounds(cur2, merges=4)


def test_mann_kendall_sig_replay(spark):
    """events_trend_mann_kendall_sig replayed in pure Python over each
    type's hourly spine: brute-force pairwise S, tie-group Var(S)*18,
    continuity-corrected z, and the 1.96 verdict — plus the spine
    memoization contract (E26/E26b share ONE materialized agg per
    session, the lsh_sym_edges device)."""
    import math
    from collections import Counter

    from sparkstreamingstateful_spark.operators.statistics import (
        _mk_hourly_spine,
    )

    assert _mk_hourly_spine(spark, SF_UNIT) is _mk_hourly_spine(
        spark, SF_UNIT
    ), "hourly spine must be memoized per (session, corpus)"

    spine = {}
    for r in _mk_hourly_spine(spark, SF_UNIT).collect():
        spine.setdefault(r.event_type, []).append((r.h, r.v))
    got = {
        r.event_type: r
        for r in QUERIES["events_trend_mann_kendall_sig"](
            spark, SF_UNIT
        ).collect()
    }
    assert set(got) == set(spine)
    for et, series in spine.items():
        series.sort()
        vs = [v for _, v in series]
        n = len(vs)
        s = sum(
            (1 if vs[j] > vs[i] else -1 if vs[j] < vs[i] else 0)
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(vs).values()
        )
        var18 = n * (n - 1) * (2 * n + 5) - tie
        r = got[et]
        assert (r.n_hours, r.s_stat, r.var_s_18) == (n, s, var18), et
        if var18 <= 0:
            assert r.z_mk is None and r.trend is None
        else:
            z = (s - (1 if s > 0 else -1 if s < 0 else 0)) / math.sqrt(
                var18 / 18.0
            )
            assert abs(r.z_mk - z) < 5e-7, (et, r.z_mk, z)
            want = (
                "increasing" if z > 1.96
                else "decreasing" if z < -1.96
                else "no_trend"
            )
            assert r.trend == want, (et, z)


def test_inverted_index_replay(spark):
    """text_inverted_index replayed in pure Python over the corpus:
    exact df/cf per term and the capped, doc_id-ordered posting string
    with 1-based first positions."""
    from sparkstreamingstateful_spark.catalog import load_table

    docs = load_table(spark, SF_UNIT, "documents").select(
        "doc_id", "text"
    ).collect()
    index = {}
    for r in docs:
        toks = [t for t in r.text.split(" ") if t]
        per = {}
        for pos, t in enumerate(toks, start=1):
            tf, first = per.get(t, (0, pos))
            per[t] = (tf + 1, first)
        for t, (tf, first) in per.items():
            index.setdefault(t, []).append((r.doc_id, tf, first))
    want = {}
    for t, posts in index.items():
        posts.sort()
        want[t] = (
            len(posts),
            sum(tf for _, tf, _ in posts),
            ",".join(f"{d}:{tf}@{fp}" for d, tf, fp in posts[:16]),
        )
    got = {
        r.term: (r.df, r.cf, r.postings)
        for r in QUERIES["text_inverted_index"](spark, SF_UNIT).collect()
    }
    assert got == want


def test_describe_flags_and_exact_moments(spark):
    """stat_describe: every native-API contract flag must hold on real
    data, and the exact-moment mean/stddev must match an independent
    recompute (numpy exact integer sums) to the 9-decimal round."""
    row = QUERIES["stat_describe"](spark, SF_UNIT).collect()[0]
    for flag in (
        "api_count_ok", "api_min_ok", "api_max_ok", "api_mean_ok",
        "api_stddev_ok", "summary_quantiles_ok",
    ):
        assert row[flag] is True, flag
    import math

    from sparkstreamingstateful_spark.catalog import load_table

    xs = [
        int(round(r.l_quantity))
        for r in load_table(spark, SF_UNIT, "lineitem")
        .select("l_quantity")
        .collect()
    ]
    n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
    assert row.n == n and row.min_x == min(xs) and row.max_x == max(xs)
    assert abs(row.mean_x - sx / n) <= 1e-9
    std = math.sqrt((n * float(sxx) - float(sx) * sx) / (n * (n - 1.0)))
    assert abs(row.stddev_x - std) <= 1e-9


def test_sen_slope_replay(spark):
    """events_trend_sen_slope replayed in pure Python: brute-force all
    pairwise slopes per type, explicit rank-median (avg of the one-or-
    two middle values of the sorted slopes) to 6 decimals."""
    from sparkstreamingstateful_spark.operators.statistics import (
        _mk_hourly_spine,
    )

    spine = {}
    for r in _mk_hourly_spine(spark, SF_UNIT).collect():
        spine.setdefault(r.event_type, []).append((r.h, r.v))
    got = {
        r.event_type: r
        for r in QUERIES["events_trend_sen_slope"](spark, SF_UNIT).collect()
    }
    assert set(got) == {et for et, s in spine.items() if len(s) >= 2}
    for et, series in spine.items():
        series.sort()
        slopes = sorted(
            (b_v - a_v) / ((b_h - a_h).total_seconds() / 3600)
            for i, (a_h, a_v) in enumerate(series)
            for (b_h, b_v) in series[i + 1:]
        )
        n = len(slopes)
        if not n:
            continue
        mid = (slopes[(n - 1) // 2] + slopes[n // 2]) / 2
        r = got[et]
        assert r.n_pairs == n
        assert abs(r.sen_slope - mid) < 5e-7, (et, r.sen_slope, mid)


def test_sen_slope_pickers_agree(spark):
    """The size-adaptive Sen-slope median pickers (naive per-type rank
    window below _SEN_SELECT_PAIRS, bucketed exact distributed selection
    above — ADVICE r15) must produce the IDENTICAL final frame: the
    selection picks the exact global-rank values, odd-n duplication is
    absorbed by avg ((v+v)/2 == v), and tie runs collapse to one
    distinct-value row. Compared through the key's own final aggregate
    so the float path (avg + round 6) is the shipped one on both sides."""
    from sparkstreamingstateful_spark.operators.statistics import (
        _mk_hourly_spine,
        _sen_pick_selection,
        _sen_pick_window,
        _sen_slopes,
    )

    slopes = _sen_slopes(_mk_hourly_spine(spark, SF_UNIT))

    def final(picked):
        return {
            tuple(r)
            for r in picked.groupBy("event_type")
            .agg(
                F.max("np").cast("bigint").alias("n_pairs"),
                F.round(F.avg("slope"), 6).alias("sen_slope"),
            )
            .collect()
        }

    assert final(_sen_pick_window(slopes)) == final(_sen_pick_selection(slopes))


def test_cusum_changepoint_replay(spark):
    """events_cusum_changepoint replayed in pure Python: brute-force
    D_t = n*S_t - t*S_n per type (exact ints), argmax |D| with the
    earliest-hour tie break, sign -> direction, and the mean-shift
    closed form to 6 decimals."""
    from sparkstreamingstateful_spark.operators.statistics import (
        _mk_hourly_spine,
    )

    spine = {}
    for r in _mk_hourly_spine(spark, SF_UNIT).collect():
        spine.setdefault(r.event_type, []).append((r.h, r.v))
    got = {
        r.event_type: r
        for r in QUERIES["events_cusum_changepoint"](spark, SF_UNIT).collect()
    }
    assert set(got) == set(spine)
    for et, series in spine.items():
        series.sort()
        n = len(series)
        sn = sum(v for _, v in series)
        st = 0
        best = None  # (abs_d, h) with earliest-h tie break via min on (-abs, h)
        for t, (h, v) in enumerate(series, start=1):
            st += v
            d = n * st - t * sn
            key = (-abs(d), h)
            if best is None or key < best[0]:
                best = (key, h, d, t, st)
        _, cp_h, d, t, st_cp = best
        r = got[et]
        assert r.n_hours == n and r.cp_h == cp_h, (et, r.cp_h, cp_h)
        assert r.direction == ("down" if d > 0 else "up" if d < 0 else "none")
        if n >= 2:
            shift = ((sn - st_cp) / (n - t) - st_cp / t) / 100
            assert abs(r.mean_shift - shift) < 5e-7, (et, r.mean_shift, shift)


def test_acf_replay(spark):
    """events_acf replayed in pure Python: gap-honest lag pairing on
    the hourly spine (pairs exactly k*3600 s apart), exact moment sums,
    the ST-E Pearson closed form to 6 decimals."""
    import math

    from sparkstreamingstateful_spark.operators.statistics import (
        _mk_hourly_spine,
    )

    spine = {}
    for r in _mk_hourly_spine(spark, SF_UNIT).collect():
        spine.setdefault(r.event_type, {})[
            int(r.h.timestamp())
        ] = r.v
    got = {
        (r.event_type, r.lag): r
        for r in QUERIES["events_acf"](spark, SF_UNIT).collect()
    }
    expected_keys = set()
    for et, by_h in spine.items():
        for lag in range(1, 13):
            pairs = [
                (v, by_h[hs + lag * 3600])
                for hs, v in by_h.items()
                if hs + lag * 3600 in by_h
            ]
            if not pairs:
                continue
            expected_keys.add((et, lag))
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            sxy = sum(x * y for x, y in pairs)
            syy = sum(y * y for _, y in pairs)
            r = got[(et, lag)]
            assert r.n_pairs == n
            dx = n * float(sxx) - float(sx) * sx
            dy = n * float(syy) - float(sy) * sy
            if n >= 2 and dx > 0 and dy > 0:
                acf = (n * float(sxy) - float(sx) * sy) / (
                    math.sqrt(dx) * math.sqrt(dy)
                )
                assert abs(r.acf - acf) < 5e-7, ((et, lag), r.acf, acf)
            else:
                assert r.acf is None
    assert set(got) == expected_keys


def test_collocations_lift_replay(spark):
    """text_collocations_lift replayed in pure Python: adjacent-bigram
    and unigram counts over the space-split lowered corpus, the exact
    lift rational, top-20 by (rounded lift desc, w1, w2). The expected
    sort key rounds HALF-AWAY-FROM-ZERO (Decimal ROUND_HALF_UP over the
    shortest-repr decimal, which is what Spark's round-on-double and
    DuckDB use) — Python's builtin round() is banker's and a lift
    landing on a 1e-6 midpoint would order differently (ADVICE r16)."""
    from collections import Counter
    from decimal import Decimal, ROUND_HALF_UP

    def _round6_half_up(x):
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    texts = [
        r.text.lower()
        for r in load_table(spark, SF_UNIT, "documents")
        .select("text")
        .collect()
    ]
    uni, bi = Counter(), Counter()
    for t in texts:
        toks = t.split(" ")
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n_tok = sum(uni.values())
    n_bi = sum(bi.values())
    scored = sorted(
        (
            (
                -_round6_half_up(
                    (c * float(n_tok) * n_tok)
                    / (float(n_bi) * uni[w1] * uni[w2])
                ),
                w1,
                w2,
                c,
            )
            for (w1, w2), c in bi.items()
            if c >= 5
        ),
    )[:20]
    got = QUERIES["text_collocations_lift"](spark, SF_UNIT).collect()
    assert len(got) == len(scored)
    for r, (neg_lift, w1, w2, c) in zip(got, scored):
        assert (r.w1, r.w2, r.c_xy) == (w1, w2, c), (r, w1, w2, c)
        assert abs(r.lift - (-neg_lift)) < 5e-7
