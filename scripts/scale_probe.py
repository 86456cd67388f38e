"""Scale probe: measure how the scale-sensitive operators behave on a K×
corpus, as evidence for the 100 TB posture claims (SCALING.md).

Builds derived tables (``catalog.cache_dir``, keyed by source content)
that are K structure-preserving replicas of the sf0.1 tables — "more
data of the same shape", not noise:

* ``documents``: replica i keeps doc structure but suffixes every token
  with ``_ri`` — token sets are renamed CONSISTENTLY within a replica, so
  every within-replica Jaccard equals the original corpus's, while vocab
  across replicas is disjoint (zero cross-replica candidates). A perfect
  linear-scaling probe for the prefix-filter / LSH families: planted pair
  count and candidate count must scale exactly ×K.
* ``embeddings``: replica i applies a deterministic random ORTHOGONAL
  rotation (QR of a seeded Gaussian) — within-replica cosines are exactly
  preserved (isometry), cross-replica cosines distribute ≈N(0, 1/dim) and
  never cross the near-dup threshold. (Sign-flips were tried first and
  leaked: clustered vectors concentrate mass in few dimensions, so a
  Rademacher-weighted overlap stays large across replicas — measured 3.3×
  super-linear pair growth at 10×.)
* ``events``: replica i shifts event_id and user_id past the original
  ranges — per-user session/window structure replicates ×K.
* ``lineitem``: replica i shifts l_orderkey — the Q1 agg reads ×K rows
  into the same 6 groups.

Run:  python scripts/scale_probe.py [K ...] [--keys a,b]   (default K: 3 10)

Every (key, K) runs through bench.py's timed-run protocol at its dir
(``bench.warm_up`` builds the setup keys' cached fixtures untimed, the sink
caches are wiped, ``bench.measure_key`` times the noop write, so the full
plan runs). The output row count comes from a ``DataFrame.observe`` on
that same execution. One record per (key, K), tagged ``<key>@<K>x``,
goes to stdout and to ``scaling_layers.json`` at the repo root:
``wall_s``, ``rows``, ``engine.*``, and ``runner.*``/``state.*`` for a
key that ran a stream. Wall-clock comparisons are within-session only
(this VM drifts ±35% between sessions, so ratios are only meaningful
against a same-session 1x).
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402  (exports PYTHONPATH for the Python workers)
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from sparkstreamingstateful_spark import registry  # noqa: E402
from sparkstreamingstateful_spark.catalog import (  # noqa: E402
    TABLE_NAMES,
    cache_dir,
    fill_once,
    table_path,
)

SRC = "/root/testdata/sf0.1"
# (key, table it scales with) — batch keys whose cost is corpus-driven;
# streaming keys excluded (micro-batch fixed cost dominates, measured).
PROBES = [
    ("agg_hash_q1", "lineitem"),
    ("events_sessionize_batch", "events"),
    ("window_time_range", "events"),
    ("cdc_upsert_latest", "events"),
    # text_language_id excluded: the per-replica token suffixes defeat its
    # lexicons (0 classified rows on scaled corpora) — the probe corpus is
    # not language-valid, which says nothing about the operator.
    ("dedup_near", "documents"),
    ("dedup_ngram_jaccard", "documents"),
    ("dedup_minhash_lsh", "documents"),
    ("dedup_cluster_cc", "documents"),
    ("embed_near_dup", "embeddings"),
    ("embed_ann_ivf", "embeddings"),
    # streaming: same chunk COUNT at every K (3 data files → 3 micro-
    # batches), so these isolate how per-batch cost grows with rows/batch —
    # the micro-batch fixed overhead (state store, Python workers) should
    # amortize and growth should be strongly sub-linear
    ("stateful_running_agg", "events(stream)"),
    ("stream_cdc_upsert", "events(stream)"),
    ("stream_window_tumbling", "events(stream)"),
    ("stateful_sessionize", "events(stream)"),
    # r6: the native-TWS path (state-server round-trips per key-batch —
    # growth should track keys, not rows) and the Python connector
    # family (cost should track split count / bytes, with the fixed
    # Python-worker overhead amortizing)
    ("stateful_sessionize_tws", "events(stream)"),
    ("scan_python_datasource", "documents"),
    ("stream_python_datasource", "documents(stream)"),
    ("write_python_datasource", "documents"),
    # r8: gap fill is window-over-aggregated-spine (must stay ≈flat — its
    # window input is hours × types, independent of K); the unigram score
    # joins every token to a K×-bigger vocabulary (t should track tokens
    # ≈K×, rows = docs ≈K×); int8 quantize is a pure narrow map (t ≈K×
    # over rows once past fixed cost); the stream union feeds 2×(3+1)
    # files at every K, isolating per-batch growth like the other
    # streaming probes. SQL-surface r8 keys (q2like/q16like) are not
    # probeable here: the replica dirs scale only the four big tables
    # (the rest are 1x links), and their plans hinge on part/supplier
    # joins.
    ("events_gap_fill", "events"),
    ("text_unigram_logprob", "documents"),
    ("embed_quantize_int8", "embeddings"),
    ("stream_union_sources", "events(stream)"),
    # dedup_semantic excluded: its scale lever is CODEBOOK SIZE (cells
    # capped so Σ|cell|² stays linear — the SemDeDup recipe), but the
    # replica corpus keeps the fixed 10-label codebook, so cells grow ×K
    # and intra-cell pair work grows ×K² by construction. The probe
    # would measure the deliberately-uncapped configuration, which says
    # nothing about the operator's documented at-scale shape (same class
    # of probe-invalidity as text_language_id's suffixed tokens).
    # r10: dedup_semantic_capped is the answer to exactly that corpus —
    # cells still grow ×K but the hash-split cap bounds sub-cell size,
    # so pair work (and t) must track ≈K, not K². The cap BINDS at every
    # K here (cells ≥ 200 ≫ 32), making this the capped/uncapped
    # contrast the flat key couldn't give.
    ("dedup_semantic_capped", "embeddings"),
    # r10 batch-2: the timeseries family — interpolation is
    # window-over-aggregated-spine like gap_fill (must stay ≈flat:
    # hours × types is K-independent), OHLC is one hash agg (≈K),
    # the rolling z-score is per-user bounded windows (≈K), the
    # tolerance as-of is union + one ordered pass (≈K); z-order is a
    # narrow codegen map + pushed filter (≈K over the scan, output
    # stays small); mode is two hash aggs with distinct-bounded
    # shuffle (≈K scan cost). BM25's scan cost is ≈K but matches come
    # only from replica 1 (the probe suffixes every token, so the
    # query terms miss renamed replicas — language_id's caveat, except
    # here the scan/stats cost is still the honest scale signal).
    # agg_histogram / join_bloom_runtime_filter are not probeable:
    # they read `orders`, which the replica dirs carry only at 1x.
    ("events_interpolate_linear", "events"),
    ("events_resample_ohlc", "events"),
    ("events_anomaly_zscore", "events"),
    ("join_asof_tolerance", "events"),
    ("layout_zorder", "events"),
    ("agg_mode", "lineitem"),
    ("text_bm25_search", "documents"),
    # r12 (VERDICT r11 item 8): BM25 re-probed on a MATCH-PRESERVING
    # replica corpus — every token suffixed EXCEPT the three BM25 query
    # terms, so each replica contributes the same matching docs and the
    # match count must scale exactly ×K (the committed SCALING.md noted
    # the plain renamed corpus zeroes the match signal past replica 1);
    # and the binned range join on a DATE+KEY-SHIFTED orders+lineitem
    # replica pair (each replica shifts both sides' dates past the
    # original range, so per-replica probe-fact structure replicates —
    # probes ×K, per-probe candidates unchanged, cost ≈K; an unshifted
    # replica would densify every time bucket ×K on BOTH sides and the
    # probe would measure a ×K² candidate blow-up the operator's 100 TB
    # posture never claims).
    ("text_bm25_search:mp", "documents(match-preserving)"),
    ("join_range_binned:rj", "orders+lineitem(date-shifted)"),
    # r12 additions probeable on the existing replica tables: the
    # subword tokenizer (distinct-word dictionary walk — vocab is
    # derived from the scaled corpus itself, disjoint per replica, so
    # distinct words ×K, rows = docs ×K, t should track ≈K), the
    # quantile-sketch rollup (per-shard summaries + constant-size merge:
    # ≈flat t, constant 3 rows), and the corpus-QC trio (narrow
    # zero-shuffle scans / one content-hash agg: ≈K).
    ("text_tokenize_subword", "documents"),
    ("agg_quantile_sketch", "lineitem"),
    ("dedup_passage", "documents"),
    ("text_repetition_ngram", "documents"),
    ("text_gopher_quality", "documents"),
    # r13 (VERDICT r12 item 7 + the round's new keys): the SECOND
    # expensive TWS key — MapState profile; its cost model is state-
    # server round-trips per (key, batch), so t must track the ×K user
    # count, not rows/user (same contract as stateful_sessionize_tws:
    # one streamed iterator() read + one updateValue per event type
    # present per key-batch — the stated per-key-batch call budget).
    ("stateful_profile_tws", "events(stream)"),
    # PageRank: within-replica pair graphs replicate disjointly (the
    # suffixed-token construction), so edges ×K, nodes ×K, iterations
    # FIXED at 15 — t must track ≈K (edge-list joins), never K².
    ("graph_pagerank_lsh", "documents"),
    # ANN recall: the 10-probe panel is fixed; corpus ×K grows both the
    # exact linear scan and the IVF cells ×K. Output constant 10 rows;
    # the CLAIM under probe is recall STABILITY — the probes live in
    # replica 0 and rotations keep cross-replica cosines ≈N(0,1/dim),
    # far below replica-0 neighbor sims, so top-10 sets stay intact.
    ("embed_ann_recall", "embeddings"),
    # foreachBatch MERGE: 3 micro-batches at every K (chunk-count
    # contract), each batch's arg-max + copy-on-write rewrite scans ×K
    # rows/users — t should grow sub-linearly (per-batch fixed cost
    # amortizes) and the versioned-table row count tracks users ×K.
    ("stream_merge_to_table", "events(stream)"),
    # r13 late additions:
    # - triangle count reads the lineitem replicas, whose co-purchase
    #   graph DENSIFIES (same ~20k parts, xK orders -> distinct edges
    #   grow toward saturation): the probe measures the degree-oriented
    #   O(m^1.5) wedge bound under densification -- the exact regime the
    #   orientation exists for (a same-shape disjoint replica would make
    #   this trivially linear and test nothing).
    ("graph_triangle_count", "lineitem(densifying)"),
    # - BFS + containment ride the suffixed-token document replicas:
    #   within-replica pair graphs/containment pairs replicate
    #   disjointly, so edges/pairs xK and t must track ~K.
    ("graph_bfs_distance", "documents"),
    ("dedup_containment", "documents"),
    # - fixed-point k-means / PQ: FIXED iteration count, centroid state
    #   k x dim on the driver; per-round cost is one assignment scan +
    #   one kxdim agg -> t ~K over the rotated embedding replicas.
    ("cluster_kmeans_fixed", "embeddings"),
    ("embed_pq_codes", "embeddings"),
    # - Holt: hourly spine (hours x types) is K-independent; the in-row
    #   fold length never grows with K -> ~flat past the xK hash agg.
    ("events_holt_linear", "events"),
    # - CMS: one key-count agg (~K scan), sketch build distinct-keys x
    #   depth (parts fixed -> flat), probe lookup broadcast-constant.
    ("agg_count_min_sketch", "lineitem"),
    # - nearest as-of: union + two window passes over xK users -> ~K.
    ("join_asof_nearest", "events"),
    # - JPEG decode: per-row Python entropy decode, embarrassingly
    #   parallel -> ~K over xK documents.
    ("multimodal_decode_jpeg", "documents"),
    # r14: BPE — training input is the DISTINCT-WORD table, and the
    # suffixed-token replicas grow the vocabulary ~xK, so train cost
    # tracks VOCAB (xK here), never raw tokens; output is 8 merge rows
    # constant. Encode is dictionary-encoded over the same vocab +
    # join-back: rows = docs xK. At the same dir encode rides train's
    # session-memoized model (the graph-family warm rule: the first BPE
    # key per dir pays training).
    ("text_bpe_train", "documents"),
    ("text_bpe_encode", "documents"),
    # r14: weighted Bellman-Ford rides the same suffixed-token document
    # replicas as BFS (disjoint per-replica pair graphs -> nodes/edges
    # xK, FIXED 8 relaxation rounds) — t must track ~K (per-round join +
    # min-agg over the edge list), rows exactly xK. The LSH edge build
    # is memoized per (session, dir) since r14 (lsh_sym_edges), so at
    # each dir the FIRST graph key probed (pagerank, above) pays the
    # build and the later ones (bfs, this) measure iteration cost on the
    # shared materialized edges — the build's own xK behavior is probed
    # separately via dedup_minhash_lsh.
    ("graph_shortest_path", "documents"),
    # r15: Mann-Kendall pair — the hourly spine (hours x types) is
    # K-INDEPENDENT (replicas shift user/event ids, not ts), so past the
    # xK hash agg to the spine both the pairwise sign join (E26) and the
    # tie-term agg + z (E26b) must stay ~flat; the spine is memoized per
    # (session, dir) since r15 (_mk_hourly_spine), so at each dir the
    # first key probed pays the agg and the second measures its own
    # join/agg term alone (the lsh_sym_edges warm rule). Output = one
    # row per type, constant.
    ("events_trend_mann_kendall", "events"),
    ("events_trend_mann_kendall_sig", "events"),
    # Sen's slope rides the same memoized spine: the pairwise slope
    # join and the r16 bucketed distributed selection are spine-bounded
    # (hours x types, K-independent) -> ~flat past the shared xK agg.
    ("events_trend_sen_slope", "events"),
    # r15: describe/summary — one exact-moment pass + the native APIs'
    # own single-pass aggs + a broadcast 3-row rank probe: t ~K over xK
    # lineitem rows, output constant 1 row.
    ("stat_describe", "lineitem"),
    # r15: inverted index — suffixed-token replicas make vocab xK with
    # disjoint per-replica posting sets: terms (rows) xK, df/cf within-
    # replica unchanged, postings bounded by the cap; t must track ~K
    # (explode + hash agg + term window, one term shuffle), never K^2.
    ("text_inverted_index", "documents"),
    # r15: REBALANCE rewrite — one AQE-managed shuffle + sized write
    # over the xK fragmented layout: t ~K (every byte moves once).
    ("maintenance_rebalance", "lineitem"),
    # r16: TWS state-variable reader — the READ is state-sized: users x
    # sessions xK rows out, partition-parallel scans of one state
    # version. scan_state_metadata is NOT probed: its read is
    # O(operators) metadata files by construction.
    ("scan_state_tws_variables", "events(stream)"),
    # r16 late trio: CUSUM changepoint + ACF ride the memoized hourly
    # spine (hours x types, K-INDEPENDENT) — past the shared xK spine
    # agg both must stay ~flat (one spine window + struct-min agg; one
    # spine lag join + moment agg), output = types / types x 12 rows,
    # constant. Collocation lift scans the corpus once (the one-pass
    # unigram+bigram explode agg -> vocab checkpoint): t ~K; suffixed
    # replicas make vocab xK so bigram/unigram count rows grow, but the
    # output is the fixed top-20 — rows constant, only t moves.
    ("events_cusum_changepoint", "events"),
    ("events_acf", "events"),
    ("text_collocations_lift", "documents"),
    # r17: TWS MapState + registered-timer readers — the MAP read is
    # state-sized (users x types xK entry rows + users xK '*' rows), the
    # TIMER read O(live keys) = users xK — both partition-parallel scans
    # of one state version, corpus-free.
    ("scan_state_tws_map", "events(stream)"),
    ("scan_state_tws_timers", "events(stream)"),
]


def _suffix_tokens(col: pa.ChunkedArray, tag: str) -> pa.Array:
    # token → token_tag, applied to every whitespace token of every doc
    toks = pc.split_pattern(col.combine_chunks(), " ")
    flat = pc.list_flatten(toks)
    flat = pc.binary_join_element_wise(flat, pa.scalar(tag), "")
    return pa.ListArray.from_arrays(toks.offsets, flat).cast(pa.list_(pa.string()))


def build(k: int) -> str:
    # content-fingerprinted cache dir (never key a derived layout by path
    # alone) — a regenerated source must invalidate the replicas, or the
    # probe would compare fresh 1x numbers against stale Kx replicas and
    # report bogus ratios
    out = cache_dir(
        f"sss_scale_{k}x", SRC, "lineitem", "events", "documents", "embeddings"
    )
    fill_once(out, lambda: _fill_replicas(out, k))
    return out


def _link_unscaled(out: str) -> None:
    """Link every source table a replica dir does not scale at 1x: the
    sink wipe before each timed run (sink_cache_paths) keys each sink
    dir on its source table's content, so every table must resolve."""
    for t in TABLE_NAMES:
        if not os.path.exists(table_path(out, t)):
            os.symlink(table_path(SRC, t), table_path(out, t))


def _fill_replicas(out: str, k: int) -> None:
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    okey = li.column("l_orderkey")
    span = pc.max(okey).as_py() + 1
    reps = []
    for i in range(k):
        reps.append(
            li.set_column(
                li.schema.get_field_index("l_orderkey"),
                "l_orderkey",
                pc.add(okey, i * span),
            )
        )
    pq.write_table(pa.concat_tables(reps), f"{out}/lineitem.parquet")

    ev = pq.read_table(f"{SRC}/events.parquet")
    eid, uid = ev.column("event_id"), ev.column("user_id")
    espan, uspan = pc.max(eid).as_py() + 1, pc.max(uid).as_py() + 1
    reps = []
    for i in range(k):
        t = ev.set_column(
            ev.schema.get_field_index("event_id"), "event_id", pc.add(eid, i * espan)
        )
        t = t.set_column(
            t.schema.get_field_index("user_id"), "user_id", pc.add(uid, i * uspan)
        )
        reps.append(t)
    # keep the table globally time-ordered (each replica spans the full
    # time range): the streaming feeder's chunk-per-micro-batch contract
    # assumes file order == event-time order, and an unsorted concat makes
    # every chunk span the whole range — batch 2+ then delivers
    # behind-the-watermark groups to the state functions (a robustness
    # scenario, covered by its own test, but not the intended probe)
    ev_k = pa.concat_tables(reps)
    pq.write_table(ev_k.sort_by([("ts", "ascending"), ("event_id", "ascending")]), f"{out}/events.parquet")

    d = pq.read_table(f"{SRC}/documents.parquet")
    did = d.column("doc_id")
    dspan = pc.max(did).as_py() + 1
    reps = []
    for i in range(k):
        toks = _suffix_tokens(d.column("text"), f"_r{i}")
        text = pc.binary_join(toks, " ")
        t = d.set_column(d.schema.get_field_index("doc_id"), "doc_id", pc.add(did, i * dspan))
        t = t.set_column(t.schema.get_field_index("text"), "text", text)
        reps.append(t)
    pq.write_table(pa.concat_tables(reps), f"{out}/documents.parquet")

    em = pq.read_table(f"{SRC}/embeddings.parquet")
    vid = em.column("vec_id")
    vspan = pc.max(vid).as_py() + 1
    dim = len(em.column("embedding")[0])
    reps = []
    for i in range(k):
        import numpy as np

        if i:
            rng = np.random.default_rng(i * 7919 + 1)
            rot, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
            rot = rot.astype("float32")
        else:
            rot = np.eye(dim, dtype="float32")
        flat = pc.list_flatten(em.column("embedding").combine_chunks())
        arr = flat.to_numpy(zero_copy_only=False).reshape(-1, dim) @ rot
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(arr.reshape(-1), pa.float32()), dim
        ).cast(pa.list_(pa.float32()))
        t = em.set_column(em.schema.get_field_index("vec_id"), "vec_id", pc.add(vid, i * vspan))
        t = t.set_column(t.schema.get_field_index("embedding"), "embedding", emb)
        reps.append(t)
    pq.write_table(pa.concat_tables(reps), f"{out}/embeddings.parquet")
    _link_unscaled(out)


def _suffix_tokens_except(col: pa.ChunkedArray, tag: str, keep: tuple) -> pa.Array:
    # token → token_tag, except tokens in `keep` (BM25's query terms),
    # which pass through unchanged in every replica — the match-preserving
    # variant: each replica contributes the same matching docs.
    toks = pc.split_pattern(col.combine_chunks(), " ")
    flat = pc.list_flatten(toks)
    suffixed = pc.binary_join_element_wise(flat, pa.scalar(tag), "")
    kept = pc.if_else(pc.is_in(flat, value_set=pa.array(list(keep))), flat, suffixed)
    return pa.ListArray.from_arrays(toks.offsets, kept).cast(pa.list_(pa.string()))


def build_bm25(k: int) -> str:
    """Match-preserving documents replicas: all tokens renamed per replica
    EXCEPT the BM25 query terms, so term matches scale exactly ×K."""
    from sparkstreamingstateful_spark.operators.llm_text import _BM25_TERMS

    out = cache_dir(f"sss_scale_bm25_{k}x", SRC, "documents")

    def fill() -> None:
        d = pq.read_table(f"{SRC}/documents.parquet")
        did = d.column("doc_id")
        dspan = pc.max(did).as_py() + 1
        reps = []
        for i in range(k):
            toks = _suffix_tokens_except(d.column("text"), f"_r{i}", _BM25_TERMS)
            text = pc.binary_join(toks, " ")
            t = d.set_column(
                d.schema.get_field_index("doc_id"), "doc_id", pc.add(did, i * dspan)
            )
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
            reps.append(t)
        pq.write_table(pa.concat_tables(reps), f"{out}/documents.parquet")
        _link_unscaled(out)

    fill_once(out, fill)
    return out


_RJ_SHIFT_DAYS = 4000  # > the orders/lineitem date span: replicas never overlap


def build_rj(k: int) -> str:
    """Date+key-shifted orders+lineitem replicas for the binned range
    join: each replica shifts BOTH sides' dates past the original range,
    so per-replica probe-fact structure replicates exactly (probes ×K,
    per-probe candidate density unchanged → cost ≈K, never ×K² bucket
    densification)."""
    from datetime import timedelta

    out = cache_dir(f"sss_scale_rj_{k}x", SRC, "orders", "lineitem")

    def fill() -> None:
        for tbl, keycol, datecol in (
            ("orders", "o_orderkey", "o_orderdate"),
            ("lineitem", "l_orderkey", "l_shipdate"),
        ):
            t0 = pq.read_table(f"{SRC}/{tbl}.parquet")
            key = t0.column(keycol)
            span = pc.max(key).as_py() + 1
            reps = []
            for i in range(k):
                t = t0.set_column(
                    t0.schema.get_field_index(keycol), keycol, pc.add(key, i * span)
                )
                shifted = pc.add(
                    t0.column(datecol), pa.scalar(timedelta(days=i * _RJ_SHIFT_DAYS))
                )
                t = t.set_column(t.schema.get_field_index(datecol), datecol, shifted)
                reps.append(t)
            pq.write_table(pa.concat_tables(reps), f"{out}/{tbl}.parquet")
        _link_unscaled(out)

    fill_once(out, fill)
    return out


BUILDERS = {"": build, "mp": build_bm25, "rj": build_rj}


def main() -> None:
    args = sys.argv[1:]
    only: set[str] | None = None
    if "--keys" in args:
        i = args.index("--keys")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    ks = [int(a) for a in args] or [3, 10]
    queries, _ = registry.collect()
    probes = [
        key for key, _ in PROBES if only is None or key.partition(":")[0] in only
    ]

    # (tag, key) pairs per dir: 1x is SRC for every variant
    by_dir: dict[str, list[tuple[str, str]]] = {}
    for k in [1, *ks]:
        for variant, builder in BUILDERS.items():
            keys = [p for p in probes if p.partition(":")[2] == variant]
            if keys:
                d = SRC if k == 1 else builder(k)
                by_dir.setdefault(d, []).extend(
                    (f"{p}@{k}x", p.partition(":")[0]) for p in keys
                )

    runs: dict[str, tuple[float, list | None]] = {}
    rows: dict[str, int] = {}
    with bench.open_session("sss-scale-probe") as (spark, log_dir):
        for d, tagged in by_dir.items():
            bench.warm_up(spark, queries, d, [key for _, key in tagged])
            for tag, key in tagged:
                bench.wipe_sink_caches(d)
                obs = Observation(tag)

                def observed(s, sf, fn=queries[key], obs=obs):
                    return fn(s, sf).observe(obs, F.count(F.lit(1)).alias("rows"))

                runs[tag] = bench.measure_key(spark, tag, observed, d)
                rows[tag] = obs.get["rows"]
                print(f"# {tag}: {runs[tag][0]} s, {rows[tag]} rows",
                      file=sys.stderr, flush=True)
        spark.stop()
        layers = bench.layer_records(bench.read_event_log(log_dir), runs)
    records = {tag: {"rows": rows[tag], **layers[tag]} for tag in runs}
    for tag, rec in records.items():
        print(json.dumps({tag: rec}))
    with open(os.path.join(_REPO, "scaling_layers.json"), "w") as f:
        json.dump(records, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
