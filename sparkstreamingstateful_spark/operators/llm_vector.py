"""LLM-data-pipeline vector operators (SURVEY.md §2.11, L5–L7 + ANN):
similarity search over the embedding column, per-label centroids, and
embedding-cosine near-dup.

Numeric discipline: all dot products cast elements to double and fold
sequentially (``F.aggregate`` — JVM-side, inside codegen). DuckDB's
``list_dot_product`` over double-cast lists folds in the same element
order, so similarities are bit-identical across engines and rankings are
deterministic without tolerance hacks.

Scale posture: brute-force top-k is a crossJoin against a *broadcast probe
set* (k probes × corpus = linear scan, embarrassingly parallel — the right
baseline even at 100 TB when probes are few). The IVF variant is the
many-probe path: assign corpus + probes to coarse cells (here the label
centroids), equi-join on cell id — turning ANN into a shuffle-on-key join
that prunes the candidate set by the cell fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import cache_tag, load_table
from ..registry import query
PROBE_IDS = tuple(range(10))  # fixed probe set for top-k queries
_PROBES_SQL = ", ".join(str(i) for i in PROBE_IDS)


def _dvec(col):
    return F.transform(F.col(col) if isinstance(col, str) else col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


_COS_SQL = (
    "list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    "                 list_transform({b}, x -> CAST(x AS DOUBLE)))"
    " / (sqrt(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)),"
    "                          list_transform({a}, x -> CAST(x AS DOUBLE))))"
    "    * sqrt(list_dot_product(list_transform({b}, x -> CAST(x AS DOUBLE)),"
    "                            list_transform({b}, x -> CAST(x AS DOUBLE)))))"
)


@query(
    "embed_similarity_topk",
    oracle=f"""
    WITH probes AS (SELECT vec_id AS probe_id, embedding AS p_emb
                    FROM embeddings WHERE vec_id IN ({_PROBES_SQL})),
    sims AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               {_COS_SQL.format(a="p.p_emb", b="e.embedding")} AS cos_sim
        FROM probes p CROSS JOIN embeddings e
        WHERE e.vec_id <> p.probe_id
    )
    SELECT probe_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM sims
    QUALIFY rank <= 5
    """,
)
def embed_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for a fixed 10-probe set: probes
    broadcast against a single linear corpus scan, per-probe top-k via
    window (rank materialized; ranking deterministic — see module
    docstring)."""
    e = load_table(spark, sf_dir, "embeddings")
    # Cast + norm staged ONCE per row on each side (r18): _cosine's naive
    # form recasts both vectors and refolds dot(a,a)/dot(b,b) for EVERY
    # pair — 2 casts + 3 interpreted folds per pair where 1 fold suffices
    # (the embed_pairwise_label discipline). sqrt(dot(x,x)) is the
    # identical IEEE fold either way and the final expression multiplies
    # the same values in the same order, so cos_sim is bit-unchanged.
    corpus = e.select("vec_id", _dvec("embedding").alias("v")).withColumn(
        "nv", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    probes = corpus.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("p_v"),
        F.col("nv").alias("p_nv"),
    )
    sims = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("p_v"), F.col("v"))
                / (F.col("p_nv") * F.col("nv"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


@query(
    "embed_centroids",
    oracle="""
    SELECT label, pos, round(avg(x), 6) AS centroid_val
    FROM (SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS pos,
                 unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean over dim-64 vectors) via
    posexplode → (label, pos) hash-agg: one shuffle of 64 partials per
    label per partition, never a collected vector."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(_dvec("embedding")).alias("pos0", "x"))
        .select("label", (F.col("pos0") + 1).alias("pos"), "x")
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("centroid_val"))
    )


_PROBE_CAP = 64  # per-label probe budget — FIXED, independent of corpus size


@query(
    "embed_pairwise_label",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id, label, embedding
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY label
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
              FROM embeddings)
        WHERE rn <= {_PROBE_CAP}
    )
    SELECT a.label AS a_label, (a.label = b.label) AS intra,
           count(*) AS n_pairs,
           round(avg({_COS_SQL.format(a="a.embedding", b="b.embedding")}), 4)
               AS avg_cos
    FROM probes a JOIN embeddings b ON a.vec_id < b.vec_id
    GROUP BY a.label, (a.label = b.label)
    """,
)
def embed_pairwise_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra- vs inter-label average similarity (cluster-quality sanity
    metric), estimated from a CAPPED deterministic probe panel: the
    ``_PROBE_CAP`` lowest-md5(vec_id) vectors per label.

    r3 re-scope (the 100 TB shape): the r2 version's probe set was a
    FIXED FRACTION of the corpus (vec_id % 5 = 0), so pair work grew
    quadratically with the data — salting spread the pain but the total
    was still O(n²/25). A per-label hash-rank CAP makes the probe panel
    constant-size (≤ labels × {_PROBE_CAP} rows) at any corpus size, so
    the metric costs probes × corpus = ONE linear scan with a broadcast
    panel — and the md5 ordering makes the panel reproducible across
    engines, runs, and cluster layouts (same determinism argument as
    corpus_sample_stratified). The oracle replays the identical cap, so
    the estimate is hash-checked exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    w_cap = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    # Norms are precomputed ONCE per row on each side — _cosine's naive
    # form refolds dot(a,a) and dot(b,b) for every pair, tripling the
    # per-pair work (the dominant cost: higher-order-function folds are
    # interpreted, not codegen'd). sqrt(dot(x,x)) is the identical IEEE
    # fold either way, so results are bit-unchanged.
    probes = (
        e.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= _PROBE_CAP)
        .select(
            F.col("vec_id").alias("a_vec"),
            _dvec("embedding").alias("a_v"),
            F.col("label").alias("a_label"),
        )
        .withColumn("a_norm", F.sqrt(_dot(F.col("a_v"), F.col("a_v"))))
    )
    # repartition: the corpus parquet is one split at test scale, which
    # would run every probe×corpus comparison in a single task
    corpus = (
        e.select("vec_id", "label", _dvec("embedding").alias("v"))
        .withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    pairs = corpus.crossJoin(F.broadcast(probes)).filter(
        F.col("a_vec") < F.col("vec_id")
    )
    cos = _dot(F.col("a_v"), F.col("v")) / (F.col("a_norm") * F.col("norm"))
    return (
        pairs.select(
            "a_label",
            (F.col("a_label") == F.col("label")).alias("intra"),
            cos.alias("cos"),
        )
        .groupBy("a_label", "intra")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("cos"), 4).alias("avg_cos"),
        )
    )


# --- SRP-LSH (sign random projection, Charikar STOC'02 — public) -------
# Deterministic ±1 hyperplane codebook shared by the Spark side and the
# oracle: component (k, pos) = +1 iff the first md5 byte of "srp:k:pos"
# is ≥ 0x80. No RNG — the codebook is a pure function of (k, pos), so
# both engines inline the SAME literals and signatures are replayable.
_SRP_BANDS, _SRP_ROWS, _SRP_DIM = 4, 8, 64


def _srp_planes(n_planes: int = _SRP_BANDS * _SRP_ROWS) -> list[list[float]]:
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"srp:{k}:{p}".encode()).hexdigest()[:2], 16) >= 128
            else -1.0
            for p in range(_SRP_DIM)
        ]
        for k in range(n_planes)
    ]


_PLANES = _srp_planes()


def _srp_band_sql() -> str:
    # per-band signature: 8 sign bits packed into an int, one SELECT per
    # band UNION ALL'd (DuckDB side of the shared codebook)
    parts = []
    for b in range(_SRP_BANDS):
        bits = " + ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ",".join(str(c) for c in _PLANES[b * _SRP_ROWS + j])
            + f"]) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_SRP_ROWS)
        )
        parts.append(f"SELECT vec_id, {b} AS band, CAST({bits} AS BIGINT) AS sig FROM dv")
    return " UNION ALL ".join(parts)


@query(
    "embed_near_dup",
    oracle=f"""
    WITH dv AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    sigs AS ({_srp_band_sql()}),
    cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
             FROM sigs a JOIN sigs b
               ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
    scored AS (SELECT c.a_id, c.b_id,
                      list_dot_product(x.v, y.v)
                      / (sqrt(list_dot_product(x.v, x.v))
                         * sqrt(list_dot_product(y.v, y.v))) AS cos_sim
               FROM cand c
               JOIN dv x ON x.vec_id = c.a_id
               JOIN dv y ON y.vec_id = c.b_id)
    SELECT a_id, b_id, round(cos_sim, 6) AS cos_sim,
           (cos_sim >= 0.99) AS is_near_dup
    FROM scored
    """,
)
def embed_near_dup(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_bands: int = _SRP_BANDS,
    sig_bits: int = _SRP_ROWS,
) -> DataFrame:
    """Embedding-cosine near-dup via SRP-LSH (sign-random-projection
    hashing, Charikar STOC'02): deterministic ±1 hyperplanes → ``n_bands``
    bands of ``sig_bits`` sign bits → candidate pairs = equi-join on
    (band, signature) → exact cosine on candidates, near-dup flag at
    ≥ 0.99. Defaults (4×8) are the driver-checked configuration the
    oracle replays.

    ``sig_bits`` is the bucket-OCCUPANCY knob at scale: expected
    candidates per band ≈ n²/2^sig_bits for decorrelated vectors
    (measured to hold in SCALING.md), so a 100 TB corpus raises
    sig_bits to keep per-bucket work bounded, trading per-band recall
    (1−θ/π)^sig_bits — which ``n_bands`` then restores. The knob is a
    parameter so that configuration is code, not prose.

    r3 re-scope (the 100 TB shape): the r2 version was exact all-pairs
    within label blocks — per-block work grew quadratically with the
    corpus (flagged as a scale-killer in VERDICT r2). SRP banding makes
    candidate generation an equi-join on high-cardinality (band, sig)
    keys — linear signature work per vector, quadratic work only inside
    hash buckets, the cosine twin of dedup_minhash_lsh. Detection
    probability per band is (1−θ/π)^8, so a true 0.99-cosine pair
    (θ≈8.1°) is caught with p≈0.991 across 4 bands; candidates carry
    their EXACT cosine, so precision is 1 by construction. The output is
    the full candidate set (not just the ≥0.99 subset — this corpus has
    no pairs above 0.52, measured) so the driver hash-pins the whole
    bucketing pipeline; the oracle replays signatures, banding, and
    scoring from the shared md5 codebook."""
    e = load_table(spark, sf_dir, "embeddings")
    # Cast once, norm once, materialize once (r18): three consumers read
    # dv (the signature pass and both scoring join-backs), and without
    # the checkpoint Catalyst's projection collapse inlined the element-
    # wise double-cast into every one of the 32 interpreted plane folds.
    # nv = sqrt(dot(v,v)) is _cosine's own fold staged per row, so the
    # candidate scoring below is 1 fold/pair instead of 3 with cos_sim
    # bit-unchanged (the embed_pairwise_label discipline).
    dv = (
        e.select("vec_id", _dvec("embedding").alias("v"))
        .withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
        .localCheckpoint()
    )
    # default config reuses the module-level codebook (2048 md5 calls
    # otherwise recomputed per invocation)
    planes = (
        _PLANES
        if (n_bands, sig_bits) == (_SRP_BANDS, _SRP_ROWS)
        else _srp_planes(n_bands * sig_bits)
    )

    def band_sig(b: int):
        bits = None
        for j in range(sig_bits):
            plane = F.array(
                *[F.lit(c) for c in planes[b * sig_bits + j]]
            )
            bit = F.when(_dot(F.col("v"), plane) > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
            bits = bit if bits is None else bits + bit
        return bits.cast("long")

    sigs = dv.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_sig(b).alias("sig")
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    cand = (
        sigs.alias("x")
        .join(sigs.alias("y"), ["band", "sig"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a_id"), F.col("y.vec_id").alias("b_id")
        )
        .distinct()
    )
    scored = (
        cand.join(
            dv.select(
                F.col("vec_id").alias("a_id"),
                F.col("v").alias("a_v"),
                F.col("nv").alias("a_nv"),
            ),
            "a_id",
        )
        .join(
            dv.select(
                F.col("vec_id").alias("b_id"),
                F.col("v").alias("b_v"),
                F.col("nv").alias("b_nv"),
            ),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            (
                _dot(F.col("a_v"), F.col("b_v"))
                / (F.col("a_nv") * F.col("b_nv"))
            ).alias("cos_sim"),
        )
    )
    return scored.select(
        "a_id",
        "b_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        (F.col("cos_sim") >= 0.99).alias("is_near_dup"),
    )


_IVF_ORACLE = f"""
    WITH dvecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    centroids AS (
        SELECT label AS cell, list(avg_x ORDER BY pos) AS centroid
        FROM (SELECT label, pos, avg(x) AS avg_x
              FROM (SELECT label,
                           unnest(range(1, len(v) + 1)) AS pos,
                           unnest(v) AS x
                    FROM dvecs)
              GROUP BY label, pos)
        GROUP BY label
    ),
    probes AS (SELECT vec_id AS probe_id, v AS p_v
               FROM dvecs WHERE vec_id IN ({_PROBES_SQL})),
    probe_cells AS (
        SELECT probe_id, p_v, cell
        FROM (SELECT p.probe_id, p.p_v, c.cell,
                     row_number() OVER (
                         PARTITION BY p.probe_id
                         ORDER BY list_dot_product(p.p_v, c.centroid)
                                  / (sqrt(list_dot_product(p.p_v, p.p_v))
                                     * sqrt(list_dot_product(c.centroid, c.centroid)))
                                  DESC, c.cell) AS rn
              FROM probes p CROSS JOIN centroids c)
        WHERE rn = 1
    ),
    sims AS (
        SELECT pc.probe_id, e.vec_id AS neighbor_id,
               list_dot_product(pc.p_v, e.v)
               / (sqrt(list_dot_product(pc.p_v, pc.p_v))
                  * sqrt(list_dot_product(e.v, e.v))) AS cos_sim
        FROM probe_cells pc
        JOIN dvecs e ON e.label = pc.cell AND e.vec_id <> pc.probe_id
    )
    SELECT probe_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM sims
    QUALIFY rank <= 5
"""


def _ivf_corpus(e: DataFrame) -> DataFrame:
    """(vec_id, label, v, nv) — embeddings double-cast + norm staged once
    per row (r18): the shortlist's candidate scoring refolded dot(e,e)
    and recast both vectors per pair; same IEEE folds, 1/3 the work."""
    return e.select("vec_id", "label", _dvec("embedding").alias("v")).withColumn(
        "nv", F.sqrt(_dot(F.col("v"), F.col("v")))
    )


def _ivf_centroids(e: DataFrame) -> DataFrame:
    """Per-label centroid codebook (cell, centroid) — split out of
    `_ivf_shortlist` so embed_ann_recall's two shortlist calls share ONE
    computed codebook instead of re-aggregating the corpus per nprobe
    setting."""
    return (
        e.select("label", F.posexplode(_dvec("embedding")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("cell"), "centroid")
    )


def _ivf_shortlist(
    e: DataFrame,
    k: int,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """The IVF approximate top-k plan over an (vec_id, label, embedding)
    corpus: per-label centroids as the trained codebook, broadcast cell
    assignment for the probe panel, search restricted to the probe's
    ``nprobe`` nearest cells, per-probe top-k. Returns (probe_id,
    neighbor_id, cos_sim, rank) with ``rank <= k`` — shared by
    embed_ann_ivf (k=5, nprobe=1) and the recall contract
    embed_ann_recall (k=10 at nprobe 1 and 3 vs exact top-10), which
    passes precomputed ``centroids``/``corpus`` so its two calls share
    one codebook aggregation and one staged-norm corpus."""
    if centroids is None:
        centroids = _ivf_centroids(e)
    if corpus is None:
        corpus = _ivf_corpus(e)
    # assign probes to their nearest cell (broadcast codebook); the probe
    # panel rides the staged cast+norm too (p_nv = sqrt(dot(p,p)), the
    # identical fold _cosine ran inline)
    probes = corpus.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("p_v"),
        F.col("nv").alias("p_nv"),
    )
    w_cell = Window.partitionBy("probe_id").orderBy(F.col("cell_sim").desc(), "cell")
    cn = F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    probe_cells = (
        probes.crossJoin(F.broadcast(centroids))
        .select(
            "probe_id", "p_v", "p_nv", "cell",
            (_dot(F.col("p_v"), F.col("centroid")) / (F.col("p_nv") * cn)).alias(
                "cell_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= nprobe)
        .select("probe_id", "p_v", "p_nv", "cell")
    )
    # search only the probe's nprobe cells (corpus pre-bucketed by label =
    # cell id; a vector belongs to exactly one cell, so no dedup needed)
    cand = probe_cells.join(corpus, probe_cells.cell == corpus.label).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    sims = cand.select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("p_v"), F.col("v")) / (F.col("p_nv") * F.col("nv"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cos_sim", "rank")
    )


@query("embed_ann_ivf", oracle=_IVF_ORACLE)
def embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into cells
    (the per-label centroids serve as the trained codebook), assign each
    probe to its nearest cell, then search only that cell.

    This is the 100 TB ANN shape: centroid assignment is a broadcast
    (codebook is tiny), cell search is an equi-join on cell_id — candidate
    set shrinks by the cell fan-out vs the brute-force scan. The oracle
    replays the whole IVF pipeline in SQL (centroid averages differ by
    ~1 ulp between engines — cell argmax would only flip on a near-exact
    tie, and output similarities are computed probe·corpus, engine-exact);
    tests additionally pin cell-restricted exactness vs numpy.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sl = _ivf_shortlist(e, 5)
    return sl.select(
        "probe_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


_ANN_RECALL_ORACLE = f"""
    WITH dvecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    centroids AS (
        SELECT label AS cell, list(avg_x ORDER BY pos) AS centroid
        FROM (SELECT label, pos, avg(x) AS avg_x
              FROM (SELECT label,
                           unnest(range(1, len(v) + 1)) AS pos,
                           unnest(v) AS x
                    FROM dvecs)
              GROUP BY label, pos)
        GROUP BY label
    ),
    probes AS (SELECT vec_id AS probe_id, v AS p_v
               FROM dvecs WHERE vec_id IN ({_PROBES_SQL})),
    probe_cells AS (
        SELECT probe_id, p_v, cell
        FROM (SELECT p.probe_id, p.p_v, c.cell,
                     row_number() OVER (
                         PARTITION BY p.probe_id
                         ORDER BY list_dot_product(p.p_v, c.centroid)
                                  / (sqrt(list_dot_product(p.p_v, p.p_v))
                                     * sqrt(list_dot_product(c.centroid, c.centroid)))
                                  DESC, c.cell) AS rn
              FROM probes p CROSS JOIN centroids c)
        WHERE rn = 1
    ),
    probe_cells3 AS (
        SELECT probe_id, p_v, cell
        FROM (SELECT p.probe_id, p.p_v, c.cell,
                     row_number() OVER (
                         PARTITION BY p.probe_id
                         ORDER BY list_dot_product(p.p_v, c.centroid)
                                  / (sqrt(list_dot_product(p.p_v, p.p_v))
                                     * sqrt(list_dot_product(c.centroid, c.centroid)))
                                  DESC, c.cell) AS rn
              FROM probes p CROSS JOIN centroids c)
        WHERE rn <= 3
    ),
    ivf1 AS (
        SELECT probe_id, neighbor_id
        FROM (SELECT pc.probe_id, e.vec_id AS neighbor_id,
                     row_number() OVER (
                         PARTITION BY pc.probe_id
                         ORDER BY list_dot_product(pc.p_v, e.v)
                                  / (sqrt(list_dot_product(pc.p_v, pc.p_v))
                                     * sqrt(list_dot_product(e.v, e.v)))
                                  DESC, e.vec_id) AS rank
              FROM probe_cells pc
              JOIN dvecs e ON e.label = pc.cell AND e.vec_id <> pc.probe_id)
        WHERE rank <= 10
    ),
    ivf3 AS (
        SELECT probe_id, neighbor_id
        FROM (SELECT pc.probe_id, e.vec_id AS neighbor_id,
                     row_number() OVER (
                         PARTITION BY pc.probe_id
                         ORDER BY list_dot_product(pc.p_v, e.v)
                                  / (sqrt(list_dot_product(pc.p_v, pc.p_v))
                                     * sqrt(list_dot_product(e.v, e.v)))
                                  DESC, e.vec_id) AS rank
              FROM probe_cells3 pc
              JOIN dvecs e ON e.label = pc.cell AND e.vec_id <> pc.probe_id)
        WHERE rank <= 10
    ),
    exact AS (
        SELECT probe_id, neighbor_id
        FROM (SELECT p.probe_id, e.vec_id AS neighbor_id,
                     row_number() OVER (
                         PARTITION BY p.probe_id
                         ORDER BY list_dot_product(p.p_v, e.v)
                                  / (sqrt(list_dot_product(p.p_v, p.p_v))
                                     * sqrt(list_dot_product(e.v, e.v)))
                                  DESC, e.vec_id) AS rank
              FROM probes p CROSS JOIN dvecs e
              WHERE e.vec_id <> p.probe_id)
        WHERE rank <= 10
    )
    SELECT x.probe_id,
           count(*) AS n_exact,
           CAST(count(i1.neighbor_id) AS BIGINT) AS hits_nprobe1,
           CAST(count(i3.neighbor_id) AS BIGINT) AS hits_nprobe3,
           CAST(count(i1.neighbor_id) AS DOUBLE) / count(*) AS recall_nprobe1,
           CAST(count(i3.neighbor_id) AS DOUBLE) / count(*) AS recall_nprobe3,
           (count(i3.neighbor_id) >= count(i1.neighbor_id)) AS monotone_ok
    FROM exact x
    LEFT JOIN ivf1 i1 ON i1.probe_id = x.probe_id
                     AND i1.neighbor_id = x.neighbor_id
    LEFT JOIN ivf3 i3 ON i3.probe_id = x.probe_id
                     AND i3.neighbor_id = x.neighbor_id
    GROUP BY x.probe_id
"""


@query("embed_ann_recall", oracle=_ANN_RECALL_ORACLE)
def embed_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality contract: recall@10 of the IVF shortlist against the
    exact brute-force top-10 for the same probe panel, measured at
    nprobe=1 AND nprobe=3 — the metric + the tuning lever every real ANN
    deployment pins before trusting an index. Per probe: hit counts and
    recalls for both nprobe settings, plus ``monotone_ok`` — a PROVABLE
    invariant (a true-top-10 member present in the candidate set always
    makes the IVF top-10, since at most 9 candidates can outrank it, so
    hits = |candidates ∩ exact-top-10| and growing the cell set can only
    add hits). The measured recall itself is honestly low here at
    nprobe=1 (~0.1–0.4: the codebook is the 10 label centroids, and true
    neighbors cross cells — exactly WHY production IVF runs nprobe > 1
    and trains the codebook on geometry); the H-check pins the measured
    values and the monotonicity, not an aspirational threshold. The
    oracle replays all three pipelines (exact, ivf@1, ivf@3) in SQL.

    Scale: exact side is probe-panel×corpus (broadcast panel, one linear
    scan — the measurement harness, run on a sample at 100 TB); IVF side
    is the production equi-join path ×nprobe. Recall join per-probe tiny."""
    e = load_table(spark, sf_dir, "embeddings")
    # Three pipelines (exact, ivf@1, ivf@3) share ONE staged corpus
    # (cast + norm per row) and ONE computed codebook (r18): the naive
    # composition re-aggregated the centroids per nprobe setting and
    # recast/refolded vectors per pair — 2 codebook aggregations and
    # 3 folds/pair collapse to 1 and 1 (same IEEE expressions, values
    # bit-unchanged; multi-consumer intermediates are checkpointed per
    # the _threshold_pairs_prefix discipline).
    corpus = _ivf_corpus(e).localCheckpoint()
    centroids = _ivf_centroids(e).localCheckpoint()
    probes = corpus.filter(F.col("vec_id").isin(*PROBE_IDS)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("p_v"),
        F.col("nv").alias("p_nv"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    exact = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("p_v"), F.col("v"))
                / (F.col("p_nv") * F.col("nv"))
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("probe_id", "neighbor_id")
    )
    ivf1 = _ivf_shortlist(e, 10, nprobe=1, centroids=centroids, corpus=corpus).select(
        "probe_id", "neighbor_id", F.lit(1).alias("hit1")
    )
    ivf3 = _ivf_shortlist(e, 10, nprobe=3, centroids=centroids, corpus=corpus).select(
        "probe_id", "neighbor_id", F.lit(1).alias("hit3")
    )
    hits = (
        exact.join(ivf1, ["probe_id", "neighbor_id"], "left")
        .join(ivf3, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit1").cast("bigint").alias("hits_nprobe1"),
            F.count("hit3").cast("bigint").alias("hits_nprobe3"),
        )
    )
    return hits.select(
        "probe_id",
        "n_exact",
        "hits_nprobe1",
        "hits_nprobe3",
        (F.col("hits_nprobe1").cast("double") / F.col("n_exact")).alias(
            "recall_nprobe1"
        ),
        (F.col("hits_nprobe3").cast("double") / F.col("n_exact")).alias(
            "recall_nprobe3"
        ),
        (F.col("hits_nprobe3") >= F.col("hits_nprobe1")).alias("monotone_ok"),
    )


# ---------------------------------------------------------- int8 quantization
@query(
    "embed_quantize_int8",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS amax,
               list_max(list_transform(d, x -> abs(x))) / 127.0 AS scale
        FROM v
    )
    SELECT vec_id,
           CAST(len(d) AS BIGINT) AS dims,
           round(scale, 6) AS scale_r,
           CAST(CASE WHEN amax = 0 THEN 0 ELSE
                list_sum(list_transform(d, x -> round(x / scale, 0)))
           END AS BIGINT) AS q_sum,
           CAST(CASE WHEN amax = 0 THEN 0 ELSE
                list_sum(list_transform(d, x -> abs(round(x / scale, 0))))
           END AS BIGINT) AS q_abs_sum,
           round(CASE WHEN amax = 0 THEN 0.0 ELSE
                list_max(list_transform(d,
                    x -> abs(x - round(x / scale, 0) * scale)))
           END, 6) AS max_abs_err
    FROM s
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the vector-compression
    step every 100 TB ANN/RAG corpus applies before indexing (4× smaller
    than float32, SIMD-dot-product friendly): ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)``. The key verifies the full quantized
    payload via exact integer checksums (sum and L1 norm of the int8
    codes — integral doubles, exact in IEEE at these magnitudes, CAST to
    BIGINT) plus the per-vector scale and max reconstruction error
    (rounded; division and abs are single IEEE ops, bit-identical across
    engines). Zero vectors quantize to all-zero codes by definition: the
    division runs against a safe stand-in denominator (ANSI mode throws
    DIVIDE_BY_ZERO even for DOUBLE — measured), and the checksum guards
    short-circuit the stand-in codes to 0, matching the oracle's CASE
    (pinned by test_quantize_zero_vector).

    Scale: a pure narrow map over the corpus — per-row array transforms
    (no Python, no shuffle, no state), partition-parallel at any corpus
    size; the natural downstream is writing q + scale as the compact
    index payload. Cost shape: higher-order-function lambdas run
    INTERPRETED (outside codegen), and an outer expression referenced
    inside a lambda is RE-EVALUATED per element — an inline
    ``array_max(...)/127`` scale made this O(dims²) per row (measured
    1.8 s warm for 2 k×64 f32 at sf0.1; 0.27 s after staging). So
    ``scale`` and the quantized array are materialized ONCE per row in
    staged projections; CollapseProject keeps the stages because the
    aliases are non-cheap and multiply-referenced."""
    return quantize_int8_plan(load_table(spark, sf_dir, "embeddings"))


def quantize_int8_plan(e: DataFrame) -> DataFrame:
    """The embed_quantize_int8 plan over any (vec_id, embedding) frame —
    split out so tests can drive edge-case vectors (all-zero) the corpus
    lacks."""

    def _asum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    staged = e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dims"),
        _dvec("embedding").alias("d"),
    ).withColumn(
        "scale", F.array_max(F.transform(F.col("d"), lambda x: F.abs(x))) / F.lit(127.0)
    )
    # ANSI mode throws DIVIDE_BY_ZERO even for DOUBLE division (measured on
    # this distribution), and the `q` projection evaluates unconditionally —
    # an all-zero vector (scale = 0) must divide by a safe stand-in instead.
    # The stand-in value never reaches the output: every aggregate over `q`
    # is short-circuited to 0 by the `zero` guard below, matching the
    # oracle's CASE (which short-circuits the division itself).
    safe = F.when(F.col("scale") == F.lit(0.0), F.lit(1.0)).otherwise(F.col("scale"))
    staged = staged.withColumn(
        "q", F.transform(F.col("d"), lambda x: F.round(x / safe))
    )
    zero = F.col("scale") == F.lit(0.0)
    return staged.select(
        "vec_id",
        "dims",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.when(zero, F.lit(0)).otherwise(_asum(F.col("q")).cast("bigint")).alias("q_sum"),
        F.when(zero, F.lit(0))
        .otherwise(_asum(F.transform(F.col("q"), lambda x: F.abs(x))).cast("bigint"))
        .alias("q_abs_sum"),
        F.round(
            F.when(zero, F.lit(0.0)).otherwise(
                F.array_max(
                    F.zip_with(
                        F.col("d"), F.col("q"), lambda x, qi: F.abs(x - qi * F.col("scale"))
                    )
                )
            ),
            6,
        ).alias("max_abs_err"),
    )


# ---------------------------------------------------------- semantic dedup
_SEMDEDUP_TAU = 0.35  # this synthetic corpus has no 0.99-grade dups (max
# observed pairwise cosine ~0.51); 0.35 sits in the top ~0.1% of same-cell
# pairs at every SF, so the drop set is non-empty and the machinery is
# genuinely exercised. A production corpus would run the classic 0.9+.

# Shared oracle front half (dvecs → normed → centroids → assigned) — the
# flat and |cell|-capped keys append their own pair stage, so assignment
# SQL can never drift between them (mirrors _semdedup_assign on the Spark
# side).
_SEMDEDUP_ASSIGN_CTES = """
    WITH dvecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    normed AS (
        SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nv
        FROM dvecs
    ),
    centroids AS (
        SELECT label AS cell, list(c ORDER BY pos) AS centroid
        FROM (SELECT label, pos, round(avg(x), 6) AS c
              FROM (SELECT label,
                           unnest(range(1, len(v) + 1)) AS pos,
                           unnest(v) AS x
                    FROM dvecs)
              GROUP BY label, pos)
        GROUP BY label
    ),
    assigned AS (
        SELECT vec_id, v, nv, cell
        FROM (SELECT d.vec_id, d.v, d.nv, c.cell,
                     row_number() OVER (
                         PARTITION BY d.vec_id
                         ORDER BY list_dot_product(d.v, c.centroid)
                                  / (d.nv * sqrt(list_dot_product(c.centroid,
                                                                  c.centroid)))
                                  DESC, c.cell) AS rn
              FROM normed d CROSS JOIN centroids c)
        WHERE rn = 1
    )"""

_SEMDEDUP_ORACLE = f"""{_SEMDEDUP_ASSIGN_CTES},
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nv * b.nv) >= {_SEMDEDUP_TAU}
    )
    SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
           (d.vec_id IS NULL) AS is_kept
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


@query("dedup_semantic", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup, SemDeDup shape (Abbas et al.
    2023): coarse-cluster the corpus, then drop near-identical vectors
    WITHIN each cluster — the missing rung between token-level near-dup
    (L4) and exact dedup, catching paraphrases/translations token
    methods can't. Pipeline: (1) codebook = per-label centroids with
    per-dimension means ROUNDED to 6 dp so both engines build a
    bit-identical codebook (raw avg differs by ~1 ulp across engines and
    could flip a near-tie cell assignment — the rounding removes the one
    nondeterminism the IVF key tolerates); (2) every vector assigned to
    its nearest centroid by cosine — a ZERO-SHUFFLE in-row argmax over a
    one-row broadcast codebook (a window/groupBy argmax would shuffle
    the full corpus, vectors included, by vec_id to rank 10 candidates);
    (3) intra-cell pairs with
    cosine ≥ τ; (4) greedy keep-lowest-id: a vector is dropped iff a
    smaller-id same-cell vector sits within τ (deterministic,
    EXISTS-replicable — no iterative clustering). Output = (vec_id,
    cell, is_kept) for the whole corpus, so the H-check pins the
    assignment AND the drop set exactly.

    Scale: never all-pairs — pair work is Σ|cell|², and at 100 TB the
    codebook is k-means-trained with k sized to cap |cell| (the SemDeDup
    recipe); assignment stays a broadcast map, pairs stay an equi-join
    on cell. Norms are staged once per vector (1 dot per pair instead
    of 3)."""
    return semdedup_plan(load_table(spark, sf_dir, "embeddings"))


def semdedup_plan(e: DataFrame) -> DataFrame:
    """The dedup_semantic plan over any (vec_id, label, embedding) frame —
    split out so tests can drive edge-case vectors (all-zero) the corpus
    lacks (same discipline as quantize_int8_plan)."""
    # materialize the assignment ONCE (r18): three consumers read it
    # (both sides of the intra-cell pair join and the final keep join) —
    # un-checkpointed, the vec_id-keyed final join could not reuse the
    # cell-keyed pair exchanges and re-ran the whole assign pipeline,
    # broadcast-codebook aggregation included (the
    # _threshold_pairs_prefix multi-consumer discipline).
    assigned = _semdedup_assign(e).localCheckpoint()
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(
            _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return assigned.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.col("hit").isNull().alias("is_kept"),
    )


def _semdedup_assign(e: DataFrame) -> DataFrame:
    """Shared SemDeDup front half (normalize → rounded per-label centroid
    codebook → broadcast in-row argmax assignment), returning
    (vec_id, v, nv, cell) — used by both the flat key and the
    |cell|-capped key, so the assignment semantics can never drift
    between them."""
    dv = e.select("vec_id", "label", _dvec("embedding").alias("v"))
    # Zero-norm guard: ANSI mode throws DIVIDE_BY_ZERO even for DOUBLE,
    # so an all-zero vector must divide by a safe stand-in (the quantize
    # lesson, test_semdedup_zero_vector). Its cosines become 0 ⇒ lowest
    # cell, always kept — sensible for a degenerate vector; the corpus
    # itself contains none.
    nv_raw = F.sqrt(_dot(F.col("v"), F.col("v")))
    normed = dv.withColumn(
        "nv", F.when(nv_raw == F.lit(0.0), F.lit(1.0)).otherwise(nv_raw)
    )
    cents = (
        dv.select("label", F.posexplode("v").alias("pos0", "x"))
        .groupBy("label", F.col("pos0").alias("pos"))
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("cell"), "centroid")
    )
    # Assignment is a ZERO-SHUFFLE in-row argmax: the whole codebook
    # (cell, centroid, norm) collapses to ONE broadcast row whose array
    # the per-vector lambda folds over — a window/groupBy argmax would
    # shuffle the full corpus (vectors included) by vec_id just to rank
    # 10 candidates (the first cut did, measured in PLANS.md history).
    # Tie-break matches the oracle's (sim DESC, cell ASC): struct
    # comparison is field-ordered, so max(struct(sim, -cell)) picks the
    # highest sim and, on exact ties, the smallest cell.
    cn_raw = F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    codebook = cents.agg(
        F.collect_list(
            F.struct(
                F.col("cell"),
                F.col("centroid"),
                # same zero-norm ANSI guard as nv (an all-zero centroid
                # would need every vector of a label to cancel exactly)
                F.when(cn_raw == F.lit(0.0), F.lit(1.0))
                .otherwise(cn_raw)
                .alias("cn"),
            )
        ).alias("cb")
    )
    best = F.array_max(
        F.transform(
            F.col("cb"),
            lambda s: F.struct(
                (_dot(F.col("v"), s["centroid"]) / (F.col("nv") * s["cn"])).alias(
                    "sim"
                ),
                (-s["cell"]).alias("neg_cell"),
            ),
        )
    )
    return (
        normed.crossJoin(F.broadcast(codebook))
        .withColumn("cell", (-best["neg_cell"]).cast("int"))
        .select("vec_id", "v", "nv", "cell")
    )


# |cell| cap for the capped SemDeDup key: any assignment cell larger than
# this is hash-split into ceil(|cell| / CAP) sub-cells, bounding per-pair
# work. 32 binds at EVERY shipped SF (cells are ~50 vectors at sf0.001/0.01
# and ~200 at sf0.1), so the split machinery is genuinely exercised by the
# driver H-check, not just dormant scaffolding.
_SEMDEDUP_CELL_CAP = 32

_SEMDEDUP_CAPPED_ORACLE = f"""{_SEMDEDUP_ASSIGN_CTES},
    counts AS (
        SELECT cell,
               (count(*) + {_SEMDEDUP_CELL_CAP - 1}) // {_SEMDEDUP_CELL_CAP}
                   AS m
        FROM assigned GROUP BY cell
    ),
    sub AS (
        SELECT a.vec_id, a.v, a.nv, a.cell, a.vec_id % c.m AS subcell
        FROM assigned a JOIN counts c USING (cell)
    ),
    dropped AS (
        SELECT DISTINCT a.vec_id
        FROM sub a JOIN sub b
          ON a.cell = b.cell AND a.subcell = b.subcell
         AND b.vec_id < a.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nv * b.nv) >= {_SEMDEDUP_TAU}
    )
    SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
           CAST(s.subcell AS BIGINT) AS subcell,
           (d.vec_id IS NULL) AS is_kept
    FROM sub s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


@query("dedup_semantic_capped", oracle=_SEMDEDUP_CAPPED_ORACLE)
def dedup_semantic_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a hard |cell| bound — the 100 TB-safe variant of
    dedup_semantic. The flat key's pair stage is Σ|cell|² over a FIXED
    cell count, which at 100× data is 10,000× the pair work (all-pairs
    within a tenth of the corpus). Here every assignment cell larger
    than _SEMDEDUP_CELL_CAP is split into m = ceil(|cell| / CAP)
    sub-cells by ``vec_id % m`` — a deterministic, oracle-replicable
    hash-split — and near-dup pairs are only scored WITHIN a sub-cell,
    so pair work is ≤ n·CAP/2 regardless of corpus size: linear in n at
    a fixed bound (measured 1×→10× in SCALING.md).

    The trade is recall, stated honestly: a hash-split can separate two
    near-dups into different sub-cells (an id-hash is content-blind), so
    this key under-drops relative to the flat key; production SemDeDup
    instead sizes the k-means codebook so cells are small AND
    content-coherent (Abbas et al. 2023 run k ≈ n/expected-cell-size).
    The capped shape is what keeps that recipe executable when a cell
    still overflows its budget — e.g. a degenerate corpus where half the
    vectors collapse onto one centroid, exactly the skew case that kills
    the flat plan. Output adds the subcell id so the H-check pins the
    split arithmetic itself, not just the surviving set.

    Plan shape: assignment is the shared broadcast argmax
    (_semdedup_assign, zero shuffle); the cell-count side is ≤ #cells
    rows and broadcast back, so the only shuffles are the two pair-join
    exchanges on (cell, subcell) — same count as the flat key, smaller
    payload per task."""
    return semdedup_capped_plan(load_table(spark, sf_dir, "embeddings"))


def semdedup_capped_plan(e: DataFrame) -> DataFrame:
    """The dedup_semantic_capped plan over any (vec_id, label, embedding)
    frame — split out so tests can drive a pathological single-cell
    corpus and verify the cap binds (sub-cell pair isolation)."""
    # assign pipeline materialized once (r18): counts' broadcast build
    # and sub's probe side both read it (same rationale as semdedup_plan)
    assigned = _semdedup_assign(e).localCheckpoint()
    counts = assigned.groupBy("cell").agg(
        F.expr(
            f"CAST((count(*) + {_SEMDEDUP_CELL_CAP - 1})"
            f" DIV {_SEMDEDUP_CELL_CAP} AS BIGINT)"
        ).alias("m")
    )
    sub = (
        assigned.join(F.broadcast(counts), "cell")
        .withColumn("subcell", F.col("vec_id") % F.col("m"))
        # three consumers (both pair-join sides + the final keep join) —
        # same materialize-once rationale as semdedup_plan
        .localCheckpoint()
    )
    a, b = sub.alias("a"), sub.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.subcell") == F.col("b.subcell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .filter(
            _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
            >= F.lit(_SEMDEDUP_TAU)
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return sub.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.col("subcell").cast("bigint").alias("subcell"),
        F.col("hit").isNull().alias("is_kept"),
    )


# ------------------------------------------------------- fixed-point k-means
_KM_K = 8
_KM_ITERS = 3
_KM_DIM = 64
_KM_SCALE = 1_000_000


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — DuckDB ``//`` / Spark
    ``div`` semantics (Python ``//`` FLOORS, wrong for negative sums)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _km_rounds_ctes(
    vec_expr: str, dim: int, k: int, iters: int, tag: str = ""
) -> tuple[str, str]:
    """CTE-chain text replaying `kmeans_fixed_plan` over ``vec_expr``
    (a DuckDB expression yielding the quantized BIGINT subvector):
    each Lloyd round is a plain CTE pair (assign via QUALIFY arg-min;
    centroid update via zipped unnest → trunc-div mean → ordered list
    reassembly) — the iteration count is a small fixed constant, so no
    recursion is needed, and MATERIALIZED stops DuckDB re-deriving
    earlier rounds. Returns (cte_text, final_assign_name); CTE names
    carry ``tag`` so several chains (the PQ subspaces) compose in one
    WITH clause."""
    sql = f"""
    q{tag} AS MATERIALIZED (SELECT vec_id, {vec_expr} AS qv
                            FROM embeddings),
    cent{tag}_0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
               qv AS cv
        FROM q{tag} WHERE vec_id < {k}
    )"""
    prev = f"cent{tag}_0"
    for it in range(1, iters + 1):
        sql += f""",
    assign{tag}_{it} AS MATERIALIZED (
        SELECT vec_id, qv, cid, dist FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                       AS dist
            FROM q{tag} q CROSS JOIN {prev} c)
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1
    )"""
        if it < iters:
            sql += f""",
    sums{tag}_{it} AS (
        SELECT cid, dims.i, sum(qv[dims.i]) AS s, count(*) AS n
        FROM assign{tag}_{it},
             (SELECT unnest(range(1, {dim + 1})) AS i) dims
        GROUP BY cid, dims.i
    ),
    cent{tag}_{it} AS MATERIALIZED (
        SELECT c0.cid, coalesce(cn.cv, c0.cv) AS cv
        FROM {prev} c0
        LEFT JOIN (SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY i) AS cv
                   FROM sums{tag}_{it} GROUP BY cid) cn
          ON cn.cid = c0.cid
    )"""
            prev = f"cent{tag}_{it}"
    return sql, f"assign{tag}_{iters}"


def _km_quant_expr(slice_expr: str = "embedding") -> str:
    return (
        f"list_transform({slice_expr},"
        f" x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT))"
    )


def _km_oracle() -> str:
    """Full-vector k-means oracle — see `_km_rounds_ctes`."""
    ctes, final = _km_rounds_ctes(
        _km_quant_expr(), _KM_DIM, _KM_K, _KM_ITERS
    )
    return f"""
    WITH {ctes}
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
           CAST(a.dist AS BIGINT) AS dist_fixed,
           CAST(sz.n AS BIGINT) AS cluster_size
    FROM {final} a
    JOIN (SELECT cid, count(*) AS n FROM {final} GROUP BY cid) sz
      ON sz.cid = a.cid
    """


def _sql_array(v) -> str:
    """A nested list of ints as Spark SQL ``array(...)`` text: the whole
    centroid table crosses to the JVM as one expression to parse, not
    as one py4j call per ``F.lit`` element."""
    if isinstance(v, list):
        return f"array({', '.join(map(_sql_array, v))})"
    return str(v)


def kmeans_fixed_plan(
    e: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS, dim: int = _KM_DIM
):
    """`kmeans_fixed_train` over the whole vector, codebook dropped and
    each cluster's size added: ``(vec_id, cluster, dist_fixed,
    cluster_size)`` (see that function's docstring for the contract)."""
    assigned = kmeans_fixed_train(e, k, iters, dim)[0]
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return assigned.join(F.broadcast(sizes), "cluster").select(
        "vec_id", "cluster", "dist_fixed", "cluster_size"
    )


def kmeans_fixed_train(
    e: DataFrame,
    k: int = _KM_K,
    iters: int = _KM_ITERS,
    dim: int = _KM_DIM,
    parts: int = 1,
):
    """Lloyd's k-means over the embedding table in EXACT FIXED-POINT
    arithmetic → ``(part, vec_id, cluster, dist_fixed)`` plus the
    trained codebooks ``{part: {cid: cv}}``.

    ``parts`` cuts each ``dim``-long embedding into that many consecutive
    slices and trains one independent codebook per slice (product
    quantization's subspaces); ``parts=1`` is plain k-means over the
    whole vector. Each part's result is exactly what a ``parts=1`` run
    over that slice alone would return.

    Float k-means cannot hash-match across engines (centroid means are
    order-dependent float sums), so every quantity is integer:
    components floor-quantized to 1e-6 units, distances are integer
    sums of squares (max 64·(8e6)² ≈ 4e15 — safely BIGINT), centroid
    updates are truncating integer divisions of exact component sums.
    Ties in the arg-min break to the smaller cluster id; an empty
    cluster keeps its previous centroid. Every engine replaying these
    rules lands on the identical clustering — the PageRank discipline
    (T11) applied to an ML training loop.

    Distributed shape per round (the standard scalable k-means, e.g.
    MLlib's): centroids live on the DRIVER (parts×k×subdim ints, with
    subdim = dim/parts — tiny by definition), assignment is an
    embarrassingly-parallel map over (part, vec_id) rows with every
    part's centroids broadcast as one literal table indexed by
    ``part``, and the update is one posexplode + (part, cluster, i)
    hash agg whose output is parts·k·subdim rows — collected to the
    driver in ONE job per round for all parts, regardless of corpus
    size. No iteration ever shuffles the corpus; lineage stays flat
    because each round reads the one materialized quantized input."""
    sub = dim // parts
    slices = [F.slice("embedding", p * sub + 1, sub) for p in range(parts)]
    q = (
        e.select("vec_id", F.posexplode(F.array(*slices)).alias("part", "x"))
        .select(
            "part",
            "vec_id",
            F.transform(
                "x", lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("bigint")
            ).alias("qv"),
        )
        .localCheckpoint()  # read k·iters times: quantize exactly once
    )

    cents = {p: {} for p in range(parts)}
    for r in q.filter(F.col("vec_id") < k).orderBy("part", "vec_id").collect():
        cents[r.part][len(cents[r.part])] = list(r.qv)

    def assign():
        books = [[cv for _, cv in sorted(cents[p].items())] for p in range(parts)]
        table = F.expr(f"CAST({_sql_array(books)} AS array<array<array<bigint>>>)")
        best = F.array_min(
            F.transform(
                table[F.col("part")],
                lambda cv, cid: F.struct(
                    F.aggregate(
                        F.zip_with("qv", cv, lambda x, y: (x - y) * (x - y)),
                        F.lit(0).cast("bigint"),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    cid.cast("bigint").alias("cid"),
                ),
            )
        )
        return q.select(
            "part", "vec_id", "qv",
            best["cid"].alias("cluster"),
            best["dist"].alias("dist_fixed"),
        )

    for it in range(iters):
        assigned = assign()
        if it == iters - 1:
            break
        upd = (
            assigned.select(
                "part", "cluster", F.posexplode("qv").alias("i", "v")
            )
            .groupBy("part", "cluster", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {}
        for r in upd:
            new.setdefault((r.part, r.cluster), [0] * sub)[r.i] = _tdiv(r.s, r.n)
        for (p, cid), cv in new.items():  # unpicked clusters keep theirs
            cents[p][cid] = cv

    # cents here = the codebooks the FINAL assignment used (trained model)
    return assigned.drop("qv"), cents


@query("cluster_kmeans_fixed", oracle=_km_oracle())
def cluster_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means document clustering over the embedding column (L20) —
    the corpus-organization primitive behind topic balancing, cluster-
    stratified sampling and SemDeDup-style curation: k=8 clusters,
    3 Lloyd rounds, deterministic first-k init, all arithmetic in exact
    integer fixed point so the unrolled-CTE oracle replay hash-matches
    the full clustering (assignment, distance AND cluster sizes) bit
    for bit. See `kmeans_fixed_plan` for the numeric rules and the
    driver/executor split; 3 fixed rounds keep the oracle a flat CTE
    chain — convergence tails belong to the iterative-refinement twin
    this key's fixed budget deliberately excludes."""
    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixed_plan(e)


# --------------------------------------------------- product quantization
_PQ_M = 4          # subspaces
_PQ_SUBDIM = _KM_DIM // _PQ_M
_PQ_K = 8          # codebook entries per subspace
_PQ_ITERS = 2


def _pq_oracle() -> str:
    """Four independent `_km_rounds_ctes` chains — one per subspace
    slice — joined on vec_id; the Jégou/Douze/Schmid PQ training replay
    (TPAMI'11, public paper) under the fixed-point discipline."""
    ctes, finals = [], []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
        c, f = _km_rounds_ctes(
            _km_quant_expr(f"embedding[{lo}:{hi}]"),
            _PQ_SUBDIM, _PQ_K, _PQ_ITERS, tag=f"_s{s}",
        )
        ctes.append(c)
        finals.append(f)
    joins = "\n    ".join(
        f"JOIN {f} a{s} ON a{s}.vec_id = a0.vec_id"
        for s, f in enumerate(finals)
        if s > 0
    )
    codes = ",\n           ".join(
        f"CAST(a{s}.cid AS BIGINT) AS code_{s}" for s in range(_PQ_M)
    )
    err = " + ".join(f"a{s}.dist" for s in range(_PQ_M))
    return f"""
    WITH {",".join(ctes)}
    SELECT a0.vec_id, {codes},
           CAST({err} AS BIGINT) AS err_fixed
    FROM {finals[0]} a0
    {joins}
    """


import weakref

_PQ_MODEL_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _pq_train_cached(spark: SparkSession, sf_dir: str, e: DataFrame):
    """Train the 4 subspace codebooks ONCE per (session, corpus content)
    and memoize ``(codes, cents)``: the stacked ``kmeans_fixed_train``
    assignment frame (one row per (part, vec_id), localCheckpoint-
    materialized, so reuse costs nothing) and the codebooks
    ``{part: {cid: cv}}``. All four subspaces train in one grouped
    k-means, one update job per Lloyd round. Train-once / use-many is
    the production PQ shape: L21 (encode) and L22 (ADC search) share
    the model, exactly as a vector store shares its trained quantizer
    across queries. Session-weak keying per the repo idempotence rule
    (never id())."""
    tag = cache_tag(sf_dir, "embeddings")
    per_session = _PQ_MODEL_CACHE.setdefault(spark, {})
    if tag not in per_session:
        codes, cents = kmeans_fixed_train(
            e, k=_PQ_K, iters=_PQ_ITERS, dim=_KM_DIM, parts=_PQ_M
        )
        per_session[tag] = (codes.localCheckpoint(), cents)
    return per_session[tag]


@query("embed_pq_codes", oracle=_pq_oracle())
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION codes (L21) — the memory-bound ANN
    workhorse (Jégou, Douze & Schmid, TPAMI'11): split each 64-dim
    embedding into 4 subspaces of 16 dims, train an independent k=8
    codebook per subspace (2 Lloyd rounds each, `kmeans_fixed_train`
    with ``parts=4`` — the L20 core re-used on stacked slices), and
    emit each vector's 4-byte code word plus its exact reconstruction
    error (sum of the four subspace distances). 4 codes × 3 bits
    compress 256 bytes of float32 to under 2 bytes — the
    compression/recall dial real vector stores ship; the reconstruction
    error column is the training-quality diagnostic.

    Everything inherits the fixed-point discipline, so the oracle —
    four unrolled `_km_rounds_ctes` chains over `embedding[lo:hi]`
    slices joined on vec_id — hash-matches codes AND errors bit for
    bit. Subspaces are independent by construction: the four codebooks
    train as one grouped driver loop over the stacked (part, vec_id)
    rows of one materialized quantized input, one k×16-row update
    aggregate per subspace per round regardless of corpus size; the
    code word is one ``groupBy("vec_id")`` pivot of the stacked
    assignments."""
    e = load_table(spark, sf_dir, "embeddings")
    codes, _cents = _pq_train_cached(spark, sf_dir, e)
    part = F.col("part")
    return codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(part == s, F.col("cluster"))).alias(f"code_{s}")
            for s in range(_PQ_M)
        ],
        F.sum("dist_fixed").cast("bigint").alias("err_fixed"),
    )


def _pq_adc_oracle() -> str:
    """ADC top-k replay: the four `_km_rounds_ctes` chains again, plus —
    per subspace — the TRAINED codebook (the centroids the final
    assignment used, cent_s{it}_{iters-1}), probe distance tables, and
    the summed asymmetric distance, all in exact integers."""
    ctes, finals, cents = [], [], []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUBDIM + 1, (s + 1) * _PQ_SUBDIM
        c, f = _km_rounds_ctes(
            _km_quant_expr(f"embedding[{lo}:{hi}]"),
            _PQ_SUBDIM, _PQ_K, _PQ_ITERS, tag=f"_s{s}",
        )
        ctes.append(c)
        finals.append(f)
        cents.append(f"cent_s{s}_{_PQ_ITERS - 1}")
    dtabs = ",\n    ".join(
        f"""dtab{s} AS MATERIALIZED (
        SELECT p.vec_id AS probe_id, c.cid,
               list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
                   i -> (p.qv[i] - c.cv[i]) * (p.qv[i] - c.cv[i]))) AS d
        FROM (SELECT vec_id, qv FROM q_s{s}
              WHERE vec_id IN ({_PROBES_SQL})) p
        CROSS JOIN {cents[s]} c
    )"""
        for s in range(_PQ_M)
    )
    djoin = "\n    ".join(
        f"JOIN dtab{s} d{s} ON d{s}.probe_id = p.probe_id"
        f" AND d{s}.cid = a{s}.cid"
        for s in range(_PQ_M)
    )
    cjoin = "\n    ".join(
        f"JOIN {f} a{s} ON a{s}.vec_id = a0.vec_id"
        for s, f in enumerate(finals)
        if s > 0
    )
    dsum = " + ".join(f"d{s}.d" for s in range(_PQ_M))
    return f"""
    WITH {",".join(ctes)},
    {dtabs},
    probes AS (SELECT DISTINCT vec_id AS probe_id FROM embeddings
               WHERE vec_id IN ({_PROBES_SQL})),
    adc AS (
        SELECT p.probe_id, a0.vec_id AS neighbor_id,
               CAST({dsum} AS BIGINT) AS adc_dist
        FROM probes p, {finals[0]} a0
        {cjoin}
        {djoin}
        WHERE a0.vec_id <> p.probe_id
    )
    SELECT probe_id, neighbor_id, adc_dist,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY adc_dist, neighbor_id)
                        AS rank
          FROM adc)
    WHERE rank <= 5
    """


@query("embed_pq_adc_topk", oracle=_pq_adc_oracle())
def embed_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ASYMMETRIC-DISTANCE top-k search (L22) — the query half of
    L21's product quantization (Jégou et al. TPAMI'11, "ADC"): each
    probe precomputes, per subspace, its distance to all 8 codebook
    centroids (a 4×8 lookup table of exact integers); a corpus vector's
    approximate distance is then the SUM of 4 table lookups over its
    code word — the memory-bandwidth trick that lets a vector store
    scan billions of codes without touching raw floats. Top-5 per probe
    by (adc_dist, neighbor_id). Everything is integer (quantized probe,
    integer centroids), so the oracle — the PQ training chains plus
    per-subspace CROSS JOIN distance tables — hash-matches distances
    AND ranking bit for bit; no recall flag needed, ADC is
    deterministic given the codebooks.

    Spark shape: the four codebooks train as one grouped
    `kmeans_fixed_train` (4×k×subdim ints on the driver — the model),
    whose stacked assignment frame already holds each code word as
    (vec_id, subspace, code) rows; the 10-probe × 4×8 lookup table
    builds driver-side in exact ints and BROADCASTS (320 rows at any
    corpus size) and equi-joins those rows — one narrow broadcast join
    + one (probe, vec) sum-agg + a top-k window. The corpus is scanned
    once; nothing pairwise touches raw vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    import math

    codes, cents_by_s = _pq_train_cached(spark, sf_dir, e)
    codes = codes.select(
        "vec_id", F.col("part").alias("s"), F.col("cluster").alias("cid")
    )

    probe_rows = (
        e.filter(F.col("vec_id").isin(*PROBE_IDS))
        .select("vec_id", "embedding")
        .collect()
    )
    lookup = []
    for r in probe_rows:
        qv = [math.floor(float(x) * _KM_SCALE) for x in r.embedding]
        for s in range(_PQ_M):
            seg = qv[s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
            for cid, cv in cents_by_s[s].items():
                d = sum((a - b) * (a - b) for a, b in zip(seg, cv))
                lookup.append((r.vec_id, s, cid, d))
    ltab = F.broadcast(
        spark.createDataFrame(
            lookup, "probe_id long, s int, cid bigint, d long"
        )
    )
    adc = (
        codes.join(ltab, ["s", "cid"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_dist",
            "rank",
        )
    )
