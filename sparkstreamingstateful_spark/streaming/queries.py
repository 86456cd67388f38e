"""Streaming & stateful registered queries (SURVEY.md §2.9, ST1–ST10).

Each query executes a real Structured Streaming pipeline through
``runner.run_stream`` (chunked feed → availableNow → memory sink, or the
key's own sink read back; see package docstring) and returns the
materialized result. Sentinel rows (user_id < 0, far-future event time —
see feeder.py) flow through the streaming plan to drive watermark
progression. No append-mode window or session ever emits one; the few
operators that can carry it into a result (feeder.py names them) strip it
from the *materialized* result by the sign of an id column, never inside
the streaming plan (a plan-level filter gets pushed below the watermark
node and stalls it — measured in M5).

Micro-batch budget: every chunk file is one micro-batch at a fixed
multi-hundred-ms cost (state-store + Python-worker round-trip), so each
query feeds only the batches its semantics need. The sentinel rides in the
last data file and costs no batch of its own; it is reserved for
append-mode watermark eviction (windows/sessions/late-drop), whose final
state the no-data flush batch then evicts. Update-mode stateful queries,
the stateless join, and the inner stream-stream join emit without it, and
a watermark-free feed runs no flush batch. Where a feed is cut is the
feeder's decision, and no result may depend on it (the oracle tests run
every key here at K = 1 and 7 too); late-drop and the dedup state
checkpoint (``_STATE_K``) name batches in their oracles and pin their cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cache_dir, cache_tag, fill_once, load_table, read_stream_events
from ..registry import query
from ..session import conf_guard
from . import feeder, stateful
from .runner import run_stream

WATERMARK = "10 minutes"


def _stream(spark: SparkSession, sf_dir: str, **variant) -> DataFrame:
    """The events feed of ``variant`` (feeder.chunked_events_dir) as a
    stream: every events-feed query reads through here."""
    return read_stream_events(spark, feeder.chunked_events_dir(sf_dir, **variant))


def _interval_join(stream: DataFrame, how: str) -> DataFrame:
    """The purchases⨝clicks interval join of the stream_stream_join keys:
    a click joins a purchase of the same user it preceded by at most 10
    minutes (``purchase_id``/``click_id`` out). Watermarks on both sides
    plus the time bound let Spark evict join state
    (StreamingSymmetricHashJoin) — without them state grows unboundedly
    (SURVEY §7.2). ``user_id < 0`` keeps the sentinel in both sides (a
    plain event_type filter would drop it below the watermark node and
    stall eviction — feeder.py); on a sentinel-free feed it matches
    nothing. One source, self-joined: both sides share its file listing
    and offsets per trigger."""
    purchases = (
        stream.filter((F.col("event_type") == "purchase") | (F.col("user_id") < 0))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    clicks = (
        stream.filter((F.col("event_type") == "click") | (F.col("user_id") < 0))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )


def _parts(sf_dir: str) -> int:
    """State-store partition count for the PYTHON-stateful queries
    (applyInPandasWithState), sized to the feed (r4 sweep, running agg:
    sf0.001 {4:2.2, 8:2.4, 16:2.7} s; sf0.1 {4:5.1, 8:3.6, 16:3.2} s —
    and sessionize 11.5→7.2 s, cdc_upsert 7.0→3.9 s at 16): the pandas
    group-apply does real per-row Python work, so parallelism pays once
    batches are fat. JVM-side state (windowed aggs, stream-stream join,
    dropDuplicates) keeps the runner default of 4 — measured WORSE at 16
    (stream_stream_join 5.2→8.1 s, late_drop 3.3→4.9 s: tiny per-row
    cost, 4× more state-store round-trips). A production deployment with
    a fixed checkpoint would pin O(cores) once; here each run owns a
    fresh checkpoint, so the count may track the feed."""
    return 4 if feeder.events_num_rows(sf_dir) < 50_000 else 16


def _ntz(col):
    # LTZ→NTZ is an identity cast under the UTC session timezone
    return col.cast("timestamp_ntz")


@query(
    "stream_window_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_v
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v_raw"))
    )
    res = run_stream(agg, output_mode="append")
    return res.select(
        _ntz(F.col("w.start")).alias("win_start"),
        "event_type",
        "n",
        F.round("sum_v_raw", 2).alias("sum_v"),
    )


@query(
    "stream_window_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE AS win_start,
           count(*) AS n
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
    GROUP BY 1
    """,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in 4 windows.
    Oracle: the 4 phase-shifted 15-min bucketings, unioned via cross join.
    The sentinel's 4 windows all end after the final watermark, so none
    is emitted (feeder.py)."""
    ev = _stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_raw"))
    )
    res = run_stream(agg, output_mode="append")
    return res.select(
        _ntz(F.col("w.start")).alias("win_start"), F.col("n_raw").alias("n")
    )


@query(
    "stream_window_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id, min(ts) AS sess_start,
           count(*) AS n_events, round(sum(value), 2) AS sum_v
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def stream_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user via
    ``F.session_window``; oracle is the batch gaps-and-islands rewrite.
    Boundary: ``session_window`` MERGES an event arriving exactly at
    gap-expiry and splits only on ``diff > gap`` (measured r9, batch and
    streaming, fixed and dynamic gap — an exact-gap event extends the
    session), so the oracle's split flag is strictly ``>``. The r6
    oracle used ``>=``: green only because µs-precision timestamps never
    land an exact 30:00.000000 gap — the same data-dependent latent
    class as the quantize zero-vector. Note this DIFFERS from the
    repo's custom stateful sessionizers (stateful.GAP_US, ``>=``
    splits), each of which matches its own oracle; the boundary is
    pinned by test_session_window_exact_gap_boundary."""
    ev = _stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_v_raw"))
    )
    res = run_stream(agg, output_mode="append")
    return res.select(
        "user_id",
        _ntz(F.col("w.start")).alias("sess_start"),
        "n_events",
        F.round("sum_v_raw", 2).alias("sum_v"),
    )


@query(
    "stream_window_session_dynamic",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, value, epoch_us(ts) AS t_us,
               CASE WHEN event_type = 'purchase' THEN 1800000000
                    ELSE 600000000 END AS gap_us
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN t_us > coalesce(max(t_us + gap_us) OVER (
                         PARTITION BY user_id ORDER BY t_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1) THEN 1 ELSE 0 END AS new_sess
        FROM ev
    ),
    sess AS (
        SELECT *,
               CAST(sum(new_sess) OVER (PARTITION BY user_id
                                        ORDER BY t_us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS sid
        FROM flagged
    )
    SELECT user_id,
           make_timestamp(min(t_us)) AS sess_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_v
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_window_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dynamic-gap session windows (ST27): ST3 with a per-ROW
    gap expression (purchases hold a session open 30 minutes, everything
    else 10 — E16's batch twin run through the real micro-batch path
    with watermark-driven append emission). What this pins beyond E16:
    the dynamic gap participates in STATE — a session's stored end grows
    by each event's own gap, and append mode may only emit once the
    watermark passes that data-dependent end (the sentinel closes the
    tail as usual). Oracle = the general running-max interval-merge
    (E16's; adjacent-lag is wrong under per-row gaps), so a streaming
    merge/eviction divergence from batch semantics hash-fails. Scale:
    state is O(open sessions) exactly as fixed-gap ST3 — the gap
    expression is evaluated per row at update time, not stored."""
    ev = _stream(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_v_raw"))
    )
    res = run_stream(agg, output_mode="append")
    return res.select(
        "user_id",
        _ntz(F.col("w.start")).alias("sess_start"),
        "n_events",
        F.round("sum_v_raw", 2).alias("sum_v"),
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-style dedup of an at-least-once feed: the last chunk
    is delivered twice (feeder replay); keyed dropDuplicates restores
    exactly-once output = the original unique events."""
    ev = _stream(spark, sf_dir, replay=(-1,), sentinels=False)
    deduped = ev.dropDuplicates(["event_id"])
    res = run_stream(deduped, output_mode="append")
    return res.select("event_id", "user_id", "event_type", "value")


@query(
    "stream_static_join",
    oracle="""
    SELECT event_id, c_custkey, c_mktsegment, value
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enriched against a static dim — the static side is planned as
    a broadcast per micro-batch (stateless, no watermark needed — rows emit
    the batch they arrive, so the feed carries no sentinel)."""
    ev = _stream(spark, sf_dir, sentinels=False)
    cust = load_table(spark, sf_dir, "customer")
    joined = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id", "c_custkey", "c_mktsegment", "value"
    )
    return run_stream(joined, output_mode="append")


@query(
    "stream_static_join_left",
    oracle="""
    SELECT event_id,
           CAST(c_custkey AS DOUBLE) AS c_custkey,
           c_mktsegment, value
    FROM events LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
      ON user_id = c_custkey
    """,
)
def stream_static_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT OUTER join (ST25): dim enrichment where a
    MISSING dim row must not drop the event — the most common production
    join after inner (the dim is late, partial, or the key is simply
    new). The static side is restricted to the even-custkey half so
    every micro-batch genuinely exercises null extension at every SF
    (the full dim covers all event users — an unrestricted left join
    would be indistinguishable from inner). Stream-static joins are
    STATELESS: the static side is (re)planned as a broadcast per
    micro-batch, rows emit in the batch they arrive, no watermark is
    involved — so unmatched events carry NULLs immediately, not at some
    eviction boundary (unlike the stream-stream outer joins ST12/17/18).
    Contract: the null-bearing join key is CAST DOUBLE on BOTH engines
    (NULL-bearing BIGINT → float64 through the driver's fetchdf — the r6
    outer-join lesson). Scale: broadcast dim ⇒ no shuffle of the stream;
    a too-big dim flips to a per-batch shuffled join — same semantics;
    production deployments persist/cache the static frame so the
    per-trigger re-read doesn't rescan the dim's storage."""
    ev = _stream(spark, sf_dir, sentinels=False)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 2 == 0
    )
    joined = ev.join(cust, ev.user_id == cust.c_custkey, "left_outer").select(
        "event_id",
        F.col("c_custkey").cast("double").alias("c_custkey"),
        "c_mktsegment",
        "value",
    )
    return run_stream(joined, output_mode="append")


@query(
    "stream_static_join_anti",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = e.user_id AND c.c_custkey % 2 = 0)
    """,
)
def stream_static_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join (ST26): the streaming data-quality
    QUARANTINE — events whose key has NO dim row, routed aside instead
    of silently dropped (the inner join's blind spot) or null-padded
    (ST25's shape). With ST5 (inner) and ST25 (left outer) this
    completes the supported stream-static join-mode matrix: every
    ``joinType`` a user can pass against a static frame is now an
    oracle-checked path. Same stateless per-batch broadcast shape as
    ST5/ST25 (anti against a broadcast dim = a map-side filter — no
    state, no watermark, no shuffle of the stream); same even-custkey
    dim restriction so the quarantine set is non-empty at every SF. No
    null-bearing columns survive the anti join, so no DOUBLE-cast is
    needed — the output is pure stream columns."""
    ev = _stream(spark, sf_dir, sentinels=False)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 2 == 0
    )
    joined = ev.join(cust, ev.user_id == cust.c_custkey, "left_anti").select(
        "event_id", "user_id", "event_type"
    )
    return run_stream(joined, output_mode="append")


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join (click→purchase correlation within
    10 minutes, see _interval_join). Inner-join matches emit the
    micro-batch both sides are present (the watermark only gates state
    EVICTION, never output), so the feed carries no sentinel."""
    joined = _interval_join(_stream(spark, sf_dir, sentinels=False), "inner")
    return run_stream(joined.select("purchase_id", "click_id"), output_mode="append")


@query(
    "stateful_running_agg",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """updateStateByKey-equivalent (ST7): per-user count+sum in keyed state,
    updated every micro-batch. The memory sink holds one update row per
    (user, batch); the final state per user must equal the batch GROUP BY —
    the H-check asserts exactly that. Update mode emits every batch without
    watermark help, so the feed carries no sentinel."""
    ev = _stream(spark, sf_dir, sentinels=False)
    updates = ev.groupBy("user_id").applyInPandasWithState(
        stateful.running_agg_fn,
        stateful.RUNNING_AGG_OUTPUT,
        stateful.RUNNING_AGG_STATE,
        "update",
        "NoTimeout",
    )
    res = run_stream(updates, output_mode="update", state_partitions=_parts(sf_dir))
    final = res.groupBy("user_id").agg(
        F.max(F.struct("n", "sum_value")).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n").alias("n"),
        F.round(F.col("s.sum_value"), 2).alias("sum_value"),
    )


@query(
    "stream_cdc_upsert",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           value AS last_value,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM (SELECT user_id, ts, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n_changes
          FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC latest-wins upsert — the incremental twin of the
    batch cdc_upsert_latest (same oracle): keyed state holds each user's
    most recent record; every micro-batch emits the current materialized
    row, and the LAST emission per key (selected by the monotone
    (last_us, last_eid) arg-max) is the final table. Tombstoned keys
    (latest record = 'error') are dropped after materialization, exactly
    like the batch MERGE. State is O(1) per key; at scale this is the
    continuously-maintained upsert view a lakehouse streams into. Update
    mode emits every batch without watermark help → no sentinel."""
    ev = _stream(spark, sf_dir, sentinels=False)
    updates = ev.groupBy("user_id").applyInPandasWithState(
        stateful.latest_wins_fn,
        stateful.LATEST_WINS_OUTPUT,
        stateful.LATEST_WINS_STATE,
        "update",
        "NoTimeout",
    )
    res = run_stream(updates, output_mode="update", state_partitions=_parts(sf_dir))
    final = res.groupBy("user_id").agg(
        F.max(
            F.struct("last_us", "last_eid", "last_type", "last_value", "n_changes")
        ).alias("s")
    )
    return final.filter(F.col("s.last_type") != "error").select(
        "user_id",
        _ntz(F.expr("timestamp_micros(s.last_us)")).alias("last_ts"),
        F.col("s.last_type").alias("last_type"),
        F.col("s.last_value").alias("last_value"),
        F.col("s.n_changes").alias("n_changes"),
    )


@query(
    "stateful_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id, min(ts) AS sess_start,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
)
def stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapWithState+timeout-equivalent (ST8): custom sessionization in
    applyInPandasWithState with an event-time timeout at last_ts + 30min.
    Sessions close either inline (next event ≥ gap away) or via timeout
    when the watermark passes; the sentinels close the tail sessions, so
    the emitted set equals the batch gaps-and-islands oracle."""
    ev = _stream(spark, sf_dir)
    sessions = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            stateful.sessionize_fn,
            stateful.SESSION_OUTPUT,
            stateful.SESSION_STATE,
            "append",
            "EventTimeTimeout",
        )
    )
    res = run_stream(sessions, output_mode="append", state_partitions=_parts(sf_dir))
    return res.select(
        "user_id",
        _ntz(F.expr("timestamp_micros(sess_start_us)")).alias("sess_start"),
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


@query(
    "stateful_dedup_keyed",
    oracle="""
    SELECT event_id, user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                               ORDER BY ts, event_id) = 1
    """,
)
def stateful_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed first-seen filter (ST9): first event per user per day, the
    seen-day set carried in keyed state across micro-batches. NoTimeout
    append emits in-batch (no watermark dependency) → no sentinel."""
    ev = _stream(spark, sf_dir, sentinels=False)
    firsts = ev.groupBy("user_id").applyInPandasWithState(
        stateful.first_seen_fn,
        stateful.FIRST_SEEN_OUTPUT,
        stateful.FIRST_SEEN_STATE,
        "append",
        "NoTimeout",
    )
    res = run_stream(firsts, output_mode="append", state_partitions=_parts(sf_dir))
    return res.select("event_id", "user_id", "day")


@query(
    "stream_window_late_drop",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type, count(*) AS n
    FROM events
    WHERE NOT (event_id >= (SELECT count(*) // 4 FROM events)
               AND event_id < (SELECT count(*) // 2 FROM events))
    GROUP BY 1, 2
    """,
)
def stream_window_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop (ST10): chunk 1 (rows n/4..n/2, event_id
    aligns with row order) arrives after chunks 0/2/3, whose max event time
    has already pushed the watermark past chunk 1 entirely → every chunk-1
    row is dropped. The oracle is the batch aggregation over the surviving
    rows — late-drop semantics are deterministic here because the feed
    order and watermark delay are fixed. The 4-chunk layout is pinned —
    the oracle's event_id quartile bounds encode it."""
    ev = _stream(spark, sf_dir, n_chunks=4, late_chunk=1)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = run_stream(agg, output_mode="append")
    return res.select(_ntz(F.col("w.start")).alias("win_start"), "event_type", "n")


@query(
    "stream_stream_join_left",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(c.event_id AS DOUBLE) AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — purchases with their
    preceding click within 10 minutes, or NULL if none arrived. Unlike the
    inner variant (``stream_stream_join``), the null-extended rows for
    unmatched purchases can only be emitted once the click-side watermark
    proves no match can still arrive, so this feed needs the sentinel: it
    drives the watermark past all real event time and the availableNow
    no-data flush batch emits the final null-extended rows. The
    sentinel self-match is stripped from the materialized result."""
    # click_id goes out as DOUBLE on both engines: the oracle is fetched
    # through pandas, where a NULL-bearing BIGINT column coerces to
    # float64 — matched ids would hash "537" vs "537.0".
    joined = _interval_join(_stream(spark, sf_dir), "left_outer").select(
        "purchase_id", F.col("click_id").cast("double").alias("click_id")
    )
    res = run_stream(joined, output_mode="append")
    return res.filter(F.col("purchase_id") >= 0)


@query(
    "stream_stream_join_full",
    oracle="""
    SELECT CAST(p.event_id AS DOUBLE) AS purchase_id,
           CAST(c.event_id AS DOUBLE) AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the streaming
    join-mode matrix (inner: ``stream_stream_join``, left outer:
    ``stream_stream_join_left``). Null-extension now happens on BOTH
    sides: a purchase with no click within its 10-minute lookback AND a
    click that preceded no purchase each emit once their own side's
    state is watermark-evicted (full outer needs watermarks on both
    inputs — Spark refuses the plan otherwise). The sentinel row flows
    through both side filters, drives both watermarks past all real
    event time, and the availableNow flush batch emits every remaining
    null-extended row; its self-match is stripped from the materialized
    result (NULL-tolerant guard: a plain ``>= 0`` would also drop every
    legitimate null-extended row)."""
    # both ids go out as DOUBLE: each side is nullable in full outer,
    # and the pandas oracle fetch coerces NULL-bearing BIGINT columns
    # to float64 (same contract as stream_stream_join_left).
    joined = _interval_join(_stream(spark, sf_dir), "full_outer").select(
        F.col("purchase_id").cast("double").alias("purchase_id"),
        F.col("click_id").cast("double").alias("click_id"),
    )
    res = run_stream(joined, output_mode="append")
    return res.filter(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("click_id").isNull() | (F.col("click_id") >= 0))
    )


@query(
    "stream_stream_join_right",
    oracle="""
    SELECT CAST(p.event_id AS DOUBLE) AS purchase_id,
           c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    RIGHT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
)
def stream_stream_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the last of the four
    join modes (inner ST6, left ST12, full ST17): every click is
    preserved; a click that preceded no purchase within 10 minutes
    null-extends once the PURCHASE side's state is watermark-evicted.
    Mechanically the mirror of the left join (null-extension timing is
    governed by the opposite side's watermark), but exercised as its own
    key because Spark plans the two modes with different state-eviction
    roles for each side — a user reaching for ``right_outer`` should not
    discover an untested path. Only ``purchase_id`` needs the DOUBLE
    cast (the only nullable side here)."""
    joined = _interval_join(_stream(spark, sf_dir), "right_outer").select(
        F.col("purchase_id").cast("double").alias("purchase_id"),
        F.col("click_id"),
    )
    res = run_stream(joined, output_mode="append")
    return res.filter(
        (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        & (F.col("click_id") >= 0)
    )


@query(
    "stream_stream_join_semi",
    oracle="""
    SELECT p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    WHERE EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 10 MINUTE
          AND c.ts <= p.ts
    )
    """,
)
def stream_stream_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the one streaming join
    type outside the inner/left/right/full matrix: purchases that HAD a
    preceding click within 10 minutes, emitted once regardless of how
    many clicks matched (the streaming ``WHERE EXISTS``). Spark keeps a
    matched flag in the left side's join state so a purchase that
    matches clicks across several micro-batches still emits exactly one
    row; matched rows emit the batch the first match arrives (the
    watermark only gates state eviction of never-matched purchases,
    which leave silently — no null extension), so like the inner
    variant the feed needs no sentinel. The output carries ONLY left
    columns and no NULLs, so the id needs no DOUBLE cast."""
    joined = _interval_join(_stream(spark, sf_dir, sentinels=False), "left_semi")
    return run_stream(joined.select("purchase_id"), output_mode="append")


@query(
    "stream_dedup_watermarked",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state dedup of an at-least-once feed via
    ``dropDuplicatesWithinWatermark`` — the scale-safe form of
    ``stream_dedup``: a state row is EVICTED once the watermark passes
    its event time PLUS the delay (state expiry is ``ts + delay``, the
    guarantee being "duplicates arriving within the delay are removed"),
    so state is O(rows within the horizon), not O(all rows ever seen).
    The last chunk is delivered twice; the 15-day delay keeps every
    original alive until its replay has been absorbed (a shorter delay
    would let originals expire before the duplicate arrives and leak it
    into the output — measured), and the far-future sentinel then drives
    the watermark past every row's expiry so the availableNow flush batch
    drains the state to just the sentinel row. Eviction is pinned by
    tests/test_streaming.py via the state-operator metrics in
    runner.LAST_QUERY_PROGRESS."""
    ev = _stream(spark, sf_dir, replay=(-1,))
    deduped = ev.withWatermark("ts", "15 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    res = run_stream(deduped, output_mode="append")
    return res.filter(F.col("user_id") >= 0).select(
        "event_id", "user_id", "event_type", "value"
    )


@query(
    "stream_window_chained",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_window_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two chained stateful operators in ONE streaming query (Spark 4
    multi-stateful support): a 15-minute tumbling pre-aggregation feeding
    a 1-hour re-aggregation keyed on ``window_time`` of the inner window.
    This is the canonical streaming rollup-cascade — the wide raw stream
    is reduced 4× before the hour-level state ever sees it, exactly how a
    100 TB/day pipeline keeps its coarse-grain state small. The result
    must equal the single-stage hourly aggregation (the oracle)."""
    ev = _stream(spark, sf_dir)
    q15 = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count(F.lit(1)).alias("n15"))
    )
    hourly = q15.groupBy(
        F.window(F.window_time("w15"), "1 hour").alias("w"), "event_type"
    ).agg(F.sum("n15").alias("n"))
    res = run_stream(hourly, output_mode="append")
    return res.select(_ntz(F.col("w.start")).alias("win_start"), "event_type", "n")


@query(
    "stream_topk_per_window",
    oracle="""
    SELECT win_start, event_type, n, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n,
               row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                  ORDER BY count(*) DESC, event_type) AS rk
        FROM events
        GROUP BY 1, 2
    )
    WHERE rk <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window top-k (ST1 × W5): 1-hour tumbling counts per
    event type, then top-3 types per window. Ranking is not a streaming-
    native operator, so it runs per micro-batch in ``foreachBatch`` — safe
    here because append-mode window finalization is watermark-driven: ALL
    groups of a window finalize in the same micro-batch (the one whose
    updated watermark passes the window end), so each batch ranks only
    complete windows. Each epoch overwrites its own ``b<epoch>`` parquet
    dir (a replayed epoch cannot duplicate rows); ``b*`` is read back.
    The sink dir is one path per source content, cleared before each run
    (a run with fewer epochs must not read an earlier run's tail)."""
    import os
    import shutil

    ev = _stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_dir = cache_dir("sss_topksink", sf_dir, "events")
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)

    from pyspark.sql import Window

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        rk = F.row_number().over(
            Window.partitionBy("w").orderBy(F.desc("n"), F.col("event_type"))
        )
        (
            batch_df.withColumn("rk", rk)
            .filter(F.col("rk") <= 3)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"b{batch_id}"))
        )

    run_stream(agg, sink=lambda w: w.foreachBatch(rank_batch).start())
    res = spark.read.parquet(os.path.join(out_dir, "b*"))
    return res.select(
        _ntz(F.col("w.start")).alias("win_start"), "event_type", "n", "rk"
    )


def _sessionize_tws_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16's TWS sessionization stream (stateful.SessionizeTws),
    shared by the key and its state-reader checkpoint."""
    return (
        _stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .transformWithStateInPandas(
            stateful.SessionizeTws(),
            outputStructType=stateful.SESSION_TWS_OUTPUT,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


@query(
    "stateful_sessionize_tws",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id, min(ts) AS sess_start,
               count(*) AS n_events, round(sum(value), 2) AS sum_value
        FROM numbered
        GROUP BY user_id, sess_id
    )
    SELECT user_id, sess_start, n_events, sum_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY sess_start)
                - 1 AS BIGINT) AS sess_seq
    FROM sess
    """,
)
def stateful_sessionize_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization on the Spark-4 ``transformWithStateInPandas`` API,
    exercising the TWS features the running-agg key cannot: EVENT-TIME
    TIMERS (idle sessions close via ``handleExpiredTimer`` when the
    watermark passes ``last_ts + 30 min``; the no-data flush batch,
    under the watermark the sentinel advanced, drives the final expiry)
    and TWO state variables per key (ValueState session accumulator +
    ListState of closed-session starts, surfaced as the oracle-checked
    ``sess_seq`` column — see stateful.SessionizeTws)."""
    res = run_stream(
        _sessionize_tws_frame(spark, sf_dir), state_partitions=_parts(sf_dir)
    )
    return res.select(
        "user_id",
        _ntz(F.expr("timestamp_micros(sess_start_us)")).alias("sess_start"),
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "sess_seq",
    )


def _finalize_ms(sf_dir: str) -> int:
    """Data-derived profile-snapshot deadline: one day past the last real
    event (epoch ms). The sentinel (+30 days) drives the watermark far
    beyond it, so the finalize timer always fires during the availableNow
    flush batch; real batches never reach it (feed is time-ordered, so
    the watermark trails max real ts by the 10-min delay)."""
    return feeder.events_max_us(sf_dir) // 1000 + 86_400_000


def _profile_tws_frame(spark: SparkSession, sf_dir: str, deadline_ms: int) -> DataFrame:
    """ST19's TWS profile stream (stateful.ProfileTws) with its
    snapshot timer at ``deadline_ms``, shared by the key and its
    never-snapshotted state-reader twin."""
    return (
        _stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .transformWithStateInPandas(
            stateful.ProfileTws(deadline_ms),
            outputStructType=stateful.PROFILE_TWS_OUTPUT,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


@query(
    "stateful_profile_tws",
    oracle="""
    SELECT user_id, event_type, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stateful_profile_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user attribute profile on ``transformWithStateInPandas`` MAP
    STATE — the last TWS state primitive the engine had never executed
    (ValueState/ListState/event-time timers: ST16; see
    stateful.ProfileTws): an ``event_type → (count, sum)``
    map per user, folded incrementally each micro-batch and exported by
    a scheduled-snapshot event-time timer at a data-derived deadline.
    The materialized result SUMS the emitted snapshot partials per
    (user, type) — correct whatever the snapshot timing — and must equal
    the batch two-level GROUP BY (the oracle). TTL-bounded state is NOT
    legal here — Spark rejects a TTL on any state variable under
    ``timeMode=EventTime``
    (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL, measured) —
    so ``ProfileTws`` carries no TTL, and tests/test_streaming.py pins
    auto-expiring MapState (actual wall-clock expiry) under
    ``timeMode=ProcessingTime`` on its own probe processor."""
    res = run_stream(
        _profile_tws_frame(spark, sf_dir, _finalize_ms(sf_dir)),
        state_partitions=_parts(sf_dir),
    )
    return (
        res.filter(F.col("user_id") >= 0)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
        )
    )


@query(
    "stateful_running_agg_tws",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stateful_running_agg_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user agg on the Spark-4 ``transformWithStateInPandas``
    API (StatefulProcessor + typed value state, RocksDB provider) — same
    semantics and oracle as ``stateful_running_agg``, covering both
    generations of the Python stateful API."""
    updates = (
        _stream(spark, sf_dir, sentinels=False)
        .groupBy("user_id")
        .transformWithStateInPandas(
            stateful.RunningAgg(),
            outputStructType=stateful.RUNNING_AGG_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )
    res = run_stream(updates, output_mode="update", state_partitions=_parts(sf_dir))
    final = res.groupBy("user_id").agg(
        F.max(F.struct("n", "sum_value")).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n").alias("n"),
        F.round(F.col("s.sum_value"), 2).alias("sum_value"),
    )


@query(
    "stream_python_datasource",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING connector via the Spark 4 Python data source API
    (S6g): the documents corpus served as a micro-batch stream by
    ``sources/pyds.ParquetDirStreamDataSource`` — driver-side offset
    management over the (file, row-group) split list of the feeder's
    documents feed (``feeder.chunked_table_dir``: one file, one split per
    chunk), one split per micro-batch, executor-side Arrow reads —
    aggregated with a complete-mode count/sum per language. availableNow
    cannot drain a Python source whose ``latestOffset`` doubles as the
    rate limiter (one batch, then victory — measured), so the runner
    polls the committed end offset until the split cursor covers the
    feed (``run_stream_drain``). The H-check proves offset-sliced
    delivery is exactly-once and complete: any dropped, re-read, or
    half-read split would shift the per-language counts."""
    from ..sources import pyds
    from .runner import run_stream_drain

    out = feeder.chunked_table_dir(sf_dir, "documents")
    pyds.register(spark)
    # the source's own split rule — the drain predicate and the reader's
    # planning must count the same list or the drain misfires
    n_splits = len(pyds.list_splits(out))
    stream = (
        spark.readStream.format("sss_pyparquet_stream")
        .option("path", out)
        .option("columns", "doc_id,lang,n_chars")
        .option("splits_per_batch", "1")
        .load()
    )
    agg = stream.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return run_stream_drain(
        agg, done=lambda end: end.get("split", 0) >= n_splits
    )


def stream_jsonl_sink_path(sf_dir: str) -> str:
    """THE cache location for stream_sink_python_datasource's sink dir —
    single definition, shared with ``sink_cache_paths`` (bench.py wipes
    it so benchmarks time the real stream, never a cached re-read)."""
    return cache_dir("sss_jsonlsink_stream", sf_dir, "events")


def totable_sink_cache(sf_dir: str) -> tuple[str, str]:
    """(table name, data path) for stream_sink_to_table — single
    definition for the query, tests, and ``sink_cache_paths``."""
    # dots would parse as a schema qualifier in the table name
    name = f"sss_totable_{cache_tag(sf_dir, 'events').replace('.', '_')}"
    return name, cache_dir(name)


def foreach_sink_path(sf_dir: str) -> str:
    """Cache location for stream_sink_foreach's output dir."""
    return cache_dir("sss_foreachsink", sf_dir, "events")


def sink_cache_paths(sf_dir: str) -> list[str]:
    """Every completion-marker-cached sink directory for ``sf_dir``.
    The ``_DONE`` markers (``catalog.fill_once``) exist so the
    correctness gate — which executes each key's plan more than once per
    session — doesn't redo expensive stream runs; a BENCHMARK timing a
    marker-cached key would measure a no-op re-read instead of the sink
    (the exact weakness VERDICT r6 flagged), so bench.py deletes these
    before its loop."""
    from ..operators.scans import (
        compact_sink_path,
        dpo_sink_path,
        jsonl_sink_path,
        rebalance_sink_path,
    )

    return [
        jsonl_sink_path(sf_dir),
        stream_jsonl_sink_path(sf_dir),
        totable_sink_cache(sf_dir)[1],
        foreach_sink_path(sf_dir),
        dpo_sink_path(sf_dir),
        compact_sink_path(sf_dir),
        rebalance_sink_path(sf_dir),
        merge_table_path(sf_dir),
    ]


@query(
    "stream_sink_python_datasource",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING sink via the Spark 4 Python data source API
    (S6i) — the last quadrant of the connector matrix (batch read S6f,
    stream read S6g, batch write S6h): events streamed through
    ``writeStream.format("sss_jsonl")``, whose per-micro-batch commit
    appends to a ``_COMMITTED`` log that makes replayed batches no-ops
    (the exactly-once sink contract; idempotence pinned by
    tests/test_pyds.py::test_stream_sink_commit_idempotent). The sink
    directory is read back with the ordinary JSON reader and aggregated;
    the H-check proves per-batch promotion delivered every row exactly
    once. ``ts`` stays out of the projection — the JSONL sink documents
    itself as long/double/string-only (datetimes have no JSON form)."""
    from ..sources import pyds

    pyds.register(spark)
    out = stream_jsonl_sink_path(sf_dir)

    def fill() -> None:
        ev = _stream(spark, sf_dir, sentinels=False).select(
            "event_id", "user_id", "event_type", "value"
        )
        run_stream(ev, sink=lambda w: w.format("sss_jsonl").option("path", out).start())

    # keyed on _DONE, not on the sink's own _COMMITTED log (see fill_once)
    fill_once(out, fill)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "stream_sink_to_table",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def stream_sink_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``writeStream.toTable`` — the catalog-managed streaming sink
    (ST20a): purchases streamed into a table created BY the streaming
    writer itself and read back through ``spark.table`` (the catalog
    surface, not a path read). The table is external (data under
    ``catalog.cache_dir``, keyed by content like every derived layout)
    so the sink never writes into an arbitrary CWD's spark-warehouse.
    Completion follows ``catalog.fill_once``: the ``_DONE`` marker is
    written only after the stream completes, a dir without it is a
    partial attempt and is wiped (table dropped) so the rerun's fresh
    checkpoint promotes cleanly; a complete dir re-points the table at
    itself (never trust a registration: it may name another cache root).
    H-check proves the file-sink transaction log (_spark_metadata) +
    catalog round-trip delivered every purchase exactly once."""
    name, out = totable_sink_cache(sf_dir)

    def fill() -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        ev = (
            _stream(spark, sf_dir, sentinels=False)
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "value")
        )
        run_stream(ev, sink=lambda w: w.option("path", out).toTable(name))

    if not fill_once(out, fill):
        # complete data dir cached earlier: (re-)attach the table to it
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} (event_id BIGINT, user_id BIGINT, "
            f"value DOUBLE) USING parquet LOCATION '{out}'"
        )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


class JsonlForeachWriter:
    """Row-level ``ForeachWriter`` with the full open/process/close
    lifecycle (ST20b). Exactly-once on top of foreach's at-least-once
    delivery via per-(epoch, partition) deterministic file names +
    write-tmp-then-rename promotion:

    - ``open(partition, epoch)`` returns False when the final file for
      that (epoch, partition) already exists — a replayed partition is
      skipped wholesale (Spark then never calls process/close-success
      for it);
    - ``process(row)`` buffers the row as one JSON line (shortest-
      roundtrip float fidelity, same contract as the jsonl datasource
      sink);
    - ``close(error)`` promotes the tmp file with an atomic rename only
      on success, and deletes it on error so a failed task attempt
      leaves nothing a retry could double-count.

    Must live at module scope: Spark pickles the writer to executors.
    """

    def __init__(self, out_dir: str, columns: list[str]):
        self.out_dir = out_dir
        self.columns = columns

    def open(self, partition_id: int, epoch_id: int) -> bool:
        import os

        self._final = os.path.join(
            self.out_dir, f"e{epoch_id:05d}-p{partition_id:05d}.jsonl"
        )
        if os.path.exists(self._final):
            return False  # replayed (epoch, partition): skip, exactly-once
        self._tmp = self._final + ".tmp"
        self._buf = []
        return True

    def process(self, row) -> None:
        import json

        self._buf.append(
            json.dumps({c: row[c] for c in self.columns}) + "\n"
        )

    def close(self, error) -> None:
        import os

        if error is not None:
            return  # buffer discarded; the retry re-opens and rewrites
        with open(self._tmp, "w") as f:
            f.writelines(self._buf)
        os.replace(self._tmp, self._final)


@query(
    "stream_sink_foreach",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_v
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_sink_foreach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level ``foreach`` sink (ST20b) fed by a STATEFUL upstream:
    the watermarked 1-hour tumbling aggregate (ST1's plan) emits
    finalized windows in append mode and ``JsonlForeachWriter`` lands
    them one row at a time through the open/process/close protocol.
    Putting the aggregate UPSTREAM keeps the row-at-a-time Python path
    on the small post-agg stream (windows × event types), never the raw
    feed — foreach is the per-row slow path and a production plan
    shapes around that. Window starts are formatted to strings JVM-side
    (one codegen'd date_format, no Python datetime/tz handling in the
    writer). The sentinel drives watermark finalization (feeder.py);
    its own window never closes, so the writer never sees it and the
    read-back needs no filter. The `_DONE` completion contract matches
    the jsonl sink. H-check proves the per-(epoch, partition) promotion
    delivered every finalized window exactly once."""
    out = foreach_sink_path(sf_dir)

    def fill() -> None:
        ev = _stream(spark, sf_dir)  # sentinels=True
        agg = (
            ev.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v_raw"))
            .select(
                F.date_format(_ntz(F.col("w.start")), "yyyy-MM-dd HH:mm:ss").alias(
                    "win_start"
                ),
                "event_type",
                "n",
                "sum_v_raw",
            )
        )
        writer = JsonlForeachWriter(out, ["win_start", "event_type", "n", "sum_v_raw"])
        run_stream(agg, sink=lambda w: w.foreach(writer).start())

    fill_once(out, fill)
    back = spark.read.schema(
        "win_start string, event_type string, n long, sum_v_raw double"
    ).json(out)
    return back.select(
        F.to_timestamp("win_start").cast("timestamp_ntz").alias("win_start"),
        "event_type",
        "n",
        F.round("sum_v_raw", 2).alias("sum_v"),
    )


@query(
    "scan_state_store",
    oracle="SELECT DISTINCT event_id FROM events",
)
def scan_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store DATA SOURCE (S7): a streaming checkpoint's
    state read back as a BATCH DataFrame — the operational surface for
    inspecting/repairing/auditing live streaming state without touching
    the query that owns it. Setup runs a keyed ``dropDuplicates`` stream
    over the events feed to completion (checkpoint cached per content
    fingerprint, same ``_DONE`` discipline as the derived layouts — the
    READ is the operator under test, the stream is setup, so benches may
    reuse it); the read then loads ``format("statestore")`` on that
    checkpoint and projects the state keys. The H-check pins the reader
    to exact state contents: every distinct event_id, nothing else —
    a dropped partition, stale snapshot, or key-schema drift all shift
    the set. Read parallelism = the checkpoint's state partition count
    (a production deployment pins O(cores) once); the same source also
    serves ``snapshotStartBatchId``/``readChangeFeed`` time-travel and
    per-side stream-join state (``joinSide``), not exercised here.

    The setup stream pins changelog checkpointing OFF for ITS OWN
    checkpoint (conf captured at query start; restored after):
    reading a changelog-only version makes the RocksDB reader replay
    the changelog, upload the reconstructed snapshot, and REPORT the
    upload to the StateStoreCoordinator RPC endpoint — which a
    batch-only session doesn't have, so the read dies with
    CANNOT_LOAD_STATE_STORE / RpcEndpointNotFoundException (measured at
    sf0.1; and the provider reports upload LAG at task completion even
    for snapshot-only loads). So the read (a) runs with
    ``coordinatorReportSnapshotUploadLag`` disabled and (b) is EAGERLY
    materialized via ``localCheckpoint`` inside that conf window —
    StateStoreConf is captured from the session when the scan first
    executes, so a lazily-returned DataFrame would execute after the
    restore and die anyway. Snapshot-per-version also spares the read
    the changelog replay; the changelog feature itself stays pinned by
    test_rocksdb_changelog_checkpointing."""
    ckpt = _dedup_state_ckpt(spark, sf_dir)
    return _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(F.col("key.event_id").alias("event_id")),
    )


_CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def _state_ckpt(
    spark: SparkSession,
    sf_dir: str,
    cache: str,
    frame,
    *,
    parts: int = 4,
    changelog: bool | None = False,
) -> str:
    """Build (or reuse) a completed state checkpoint for the state-store
    reader keys: the streaming frame ``frame()`` (built only on a cache
    miss) runs to completion into the noop sink against the fixed
    checkpoint ``catalog.cache_dir(cache, ...)``, under the ``_DONE``
    contract of ``catalog.fill_once``, with ``parts`` state partitions.

    State files are provider-physical and the reader loads with the
    session's provider (an HDFS-backed checkpoint read under RocksDB
    fails CANNOT_LOAD_STATE_STORE, measured), so ``configure`` runs
    FIRST: it sets the RocksDB provider that the setup stream runs with
    and that the read uses on a cache hit in a plain driver session that
    has loaded no table yet. ``changelog`` pins RocksDB changelog
    checkpointing for this checkpoint's stream (captured at query
    start); None keeps the session's setting."""
    from ..session import configure

    configure(spark)
    ckpt = cache_dir(cache, sf_dir, "events")
    conf = None if changelog is None else {_CHANGELOG: str(changelog).lower()}
    fill_once(
        ckpt,
        lambda: run_stream(
            frame(),
            state_partitions=parts,
            sink=lambda w: w.format("noop").start(),
            checkpoint=ckpt,
            conf=conf,
        ),
    )
    return ckpt


# The dedup state checkpoint's own cut: its readers' oracles name batch
# ids, and 3 gives the time-travel read an intermediate batch.
_STATE_K = 3


def _dedup_state_ckpt(
    spark: SparkSession, sf_dir: str, *, changelog: bool = False
) -> str:
    """A completed keyed-dropDuplicates checkpoint for the state-store
    reader keys (see _state_ckpt) over a ``_STATE_K``-chunk feed, one per
    changelog mode. Two flavors exist because the two read paths need OPPOSITE RocksDB layouts:
    the SNAPSHOT read (S7) wants changelog checkpointing OFF
    (snapshot-per-version — a changelog-only version forces the reader
    into the coordinator-RPC replay path, see scan_state_store), while
    the CHANGE FEED read (S7b) wants it ON — ``readChangeFeed`` under
    RocksDB replays the per-batch ``.changelog`` files themselves, and a
    snapshot-only checkpoint has none (measured:
    CANNOT_READ_STREAMING_STATE_FILE .../1.changelog does not exist)."""

    def dedup() -> DataFrame:
        return (
            _stream(spark, sf_dir, n_chunks=_STATE_K, sentinels=False)
            .select("event_id")
            .dropDuplicates(["event_id"])
        )

    flavor = f"{'cf_' if changelog else ''}k{_STATE_K}"
    return _state_ckpt(
        spark, sf_dir, f"sss_statestore_{flavor}", dedup, changelog=changelog
    )


def _statestore_read(spark: SparkSession, ckpt: str, project, **options) -> DataFrame:
    """Run a ``format("statestore")`` read inside the conf window the
    reader needs (snapshot-upload-lag reporting off — the batch session
    has no StateStoreCoordinator RPC endpoint; see scan_state_store) and
    EAGERLY materialize via localCheckpoint so the scan executes while the
    conf still holds."""
    lag_key = "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    with conf_guard(spark, {lag_key: "false"}):
        rd = spark.read.format("statestore").option("path", ckpt)
        for k, v in options.items():
            rd = rd.option(k, v)
        return project(rd.load()).localCheckpoint(eager=True)


@query(
    "scan_state_changefeed",
    oracle=f"""
    SELECT e.event_id,
           CAST(((e.event_id + 1) * {_STATE_K} - 1) // b.n AS BIGINT)
               AS batch_id,
           'update' AS change_type
    FROM events e, (SELECT count(*) AS n FROM events) b
    """,
)
def scan_state_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store CHANGE FEED (S7b): ``readChangeFeed`` over the same
    cached dropDuplicates checkpoint S7 scans — the state-debugging
    surface an operator reaches for first ("which batch touched this
    key, and how?"): every state transition between two batch ids as
    (batch_id, change_type, key) rows. For keyed dedup each event_id is
    put exactly once, in the micro-batch that delivered its chunk, so
    the whole feed is SQL-predictable: the feeder slices the events
    table into ``_STATE_K`` chunks IN ROW ORDER and the table's row order
    is event_id 0..n-1 (pinned by test_changefeed_batch_attribution), so
    batch_id = the chunk index of ``event_id`` against the ``i * n // K``
    bounds, ``((event_id + 1) * K - 1) // n``, and change_type = 'update'
    everywhere (no eviction: dedup without watermark never deletes). The H-check therefore pins per-batch
    attribution and change typing exactly — a replayed batch, dropped
    delta file, or misnumbered version shifts batch_id; a spurious
    eviction surfaces as 'delete' rows. The checkpoint is a SEPARATE
    flavor from S7's: under RocksDB the change feed replays the
    per-batch ``.changelog`` files themselves, so its setup stream runs
    with changelog checkpointing ON (this engine's session default — the
    at-scale posture) while S7's snapshot read needs it OFF; see
    _dedup_state_ckpt. Scale: the read parallelizes over state
    partitions × batches and reads only the requested batch-id range —
    the audit never rescans the stream's data, only its state change
    files."""
    ckpt = _dedup_state_ckpt(spark, sf_dir, changelog=True)
    return _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.event_id").alias("event_id"),
            "batch_id",
            "change_type",
        ),
        readChangeFeed="true",
        changeStartBatchId="0",
    )


@query(
    "scan_state_time_travel",
    oracle=f"""
    SELECT e.event_id
    FROM events e, (SELECT count(*) AS n FROM events) b
    WHERE e.event_id < 2 * b.n // {_STATE_K}
    """,
)
def scan_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store TIME TRAVEL (S7c): ``batchId`` pins the snapshot read
    to an EARLIER committed version — "what did the state look like two
    deploys ago?", the post-incident audit read (S7 reads latest, S7b
    reads the transitions; this reads a past point). The read targets
    batch 1 — a strictly intermediate version, neither first nor last —
    over S7's cached snapshot-flavor checkpoint, so the expected state
    is exactly the first TWO chunks' ids: event_id < 2n//K (same
    row-order/boundary reasoning as S7b, pinned by
    test_changefeed_batch_attribution). The H-check fails if version
    selection is off by one in either direction (batch 0 would halve
    the set, latest would grow it by half) — the sharpest possible pin
    on "which version am I actually reading". Scale: identical to S7 —
    one state-partition-parallel scan of a single version; under
    RocksDB, snapshot-per-version means no changelog replay to
    reconstruct the target batch."""
    ckpt = _dedup_state_ckpt(spark, sf_dir)
    return _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(F.col("key.event_id").alias("event_id")),
        batchId="1",
    )


@query(
    "scan_state_join_side",
    oracle="""
    SELECT CASE WHEN event_type = 'purchase' THEN 'left' ELSE 'right' END
               AS side,
           event_id, user_id
    FROM events WHERE event_type IN ('purchase', 'click')
    """,
)
def scan_state_join_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream JOIN state read (S7d): ``joinSide`` exposes the
    per-side buffered-row state of a join checkpoint — the audit surface
    for the #1 production streaming pathology, join state growth ("what
    exactly is this join still holding, and for which keys?"). Setup
    runs a purchases⨝clicks inner equi-join on user_id WITHOUT
    watermarks, deliberately: an unwatermarked inner join never evicts,
    so each side's buffered state is exactly every row that side has
    seen — the one configuration whose state contents are
    SQL-predictable, which is what makes the READER's fidelity
    H-checkable (both sides read back, union'd with a side tag; a
    dropped partition, side mix-up, or value-schema drift all shift the
    set). The watermarked eviction path this audit exists FOR is pinned
    test-side instead (test_join_side_watermarked_evicts: same join
    WITH watermarks retains a tiny suffix — eviction timing is
    watermark-internal and not oracle-stable). Scale: the unwatermarked
    setup is the anti-pattern at 100 TB (state = full history — exactly
    what this reader lets an operator catch); the read itself is one
    partition-parallel scan per side of one state version."""

    def joined() -> DataFrame:
        stream = _stream(spark, sf_dir, sentinels=False)
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
        )
        return purchases.join(clicks, F.col("p_user") == F.col("c_user"))

    # changelog=None: the join checkpoint keeps the session's setting
    ckpt = _state_ckpt(spark, sf_dir, "sss_statejoin", joined, changelog=None)
    left = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.lit("left").alias("side"),
            F.col("value.purchase_id").alias("event_id"),
            F.col("value.p_user").alias("user_id"),
        ),
        joinSide="left",
    )
    right = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.lit("right").alias("side"),
            F.col("value.click_id").alias("event_id"),
            F.col("value.c_user").alias("user_id"),
        ),
        joinSide="right",
    )
    return left.unionByName(right)


@query(
    "scan_state_metadata",
    oracle=f"""
    SELECT CAST(0 AS BIGINT) AS operator_id,
           'dedupe' AS operator_name,
           'default' AS state_store_name,
           CAST(4 AS BIGINT) AS num_partitions,
           CAST(0 AS BIGINT) AS min_batch_id,
           CAST({_STATE_K - 1} AS BIGINT) AS max_batch_id
    """,
)
def scan_state_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-METADATA source (S7e, VERDICT r15 item 4): ``spark.read.
    format("state-metadata")`` over S7's cached dropDuplicates
    checkpoint — the operator-DISCOVERY half of the statestore family.
    S7–S7d read state CONTENTS, but the first thing an on-call reads
    before picking S7 options is this: which stateful operators exist
    in the checkpoint, under what ids/store names, across which batch
    range, at what partition count. The H-check pins the full metadata
    row as literals: operator 0 is the dedupe operator writing store
    "default" across batches 0..K-1 (K = ``_STATE_K``, the checkpoint's
    pinned cut) over the 4 state partitions the setup stream pins. A replayed/missing batch, a
    partition-count drift, or an operator-name change all shift the
    row. ``operatorProperties`` (JSON state-variable inventory, NULL
    for non-TWS operators) is S7f's concern and stays unprojected.
    Scale: the source reads per-operator metadata FILES only — no
    state store is instantiated, so cost is O(operators), independent
    of state size."""
    ckpt = _dedup_state_ckpt(spark, sf_dir)
    md = spark.read.format("state-metadata").load(ckpt)
    return md.select(
        F.col("operatorId").cast("bigint").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").cast("bigint").alias("num_partitions"),
        F.col("minBatchId").cast("bigint").alias("min_batch_id"),
        F.col("maxBatchId").cast("bigint").alias("max_batch_id"),
    )


def _sessionize_tws_ckpt(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) a completed ``transformWithStateInPandas``
    sessionization checkpoint for the TWS state-variable reader (S7f)
    — the ST16 pipeline run against a FIXED checkpoint with the
    ``_DONE`` discipline, cached per (provider, content tag) by
    _state_ckpt. Changelog checkpointing is pinned OFF for this
    checkpoint: the reader takes the snapshot path (a changelog-only
    version forces coordinator-RPC replay a batch session lacks; see
    scan_state_store)."""
    return _state_ckpt(
        spark,
        sf_dir,
        "sss_statestore_tws",
        lambda: _sessionize_tws_frame(spark, sf_dir),
        parts=_parts(sf_dir),
    )


@query(
    "scan_state_tws_variables",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ),
    sess AS (
        SELECT user_id, min(ts) AS sess_start
        FROM numbered
        GROUP BY user_id, sess_id
    )
    SELECT user_id, 'start' AS kind, CAST(epoch_us(sess_start) AS BIGINT) AS val
    FROM sess
    UNION ALL
    SELECT user_id, 'n_closed' AS kind, CAST(count(*) AS BIGINT) AS val
    FROM sess GROUP BY user_id
    UNION ALL
    SELECT user_id, 'list_len' AS kind, CAST(count(*) AS BIGINT) AS val
    FROM sess GROUP BY user_id
    """,
)
def scan_state_tws_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS state-VARIABLE reader (S7f, VERDICT r15 item 5): the
    statestore source's Spark-4 ``stateVarName`` /
    ``flattenCollectionTypes`` options over a
    ``transformWithStateInPandas`` checkpoint — the state LAYOUT a
    production migration to TWS audits (S7 covers the dropDuplicates
    operator only; a TWS operator holds NAMED typed variables per key
    and the reader must address them individually). Reads ST16's
    sessionization checkpoint (see _sessionize_tws_ckpt) three ways:

    - ValueState ``sess``: after the sentinel-driven final expiry every
      real user's open-session slot is retired to ``start_us = -1``
      with ``n_closed`` = lifetime closed-session count — checked as
      kind='n_closed' against the oracle's per-user session count.
    - ListState ``closed_starts`` FLATTENED
      (``flattenCollectionTypes=true``): one row per list ELEMENT —
      every closed session's start_us, checked as kind='start' against
      the oracle's per-session min(ts) in epoch microseconds.
    - The same ListState UNFLATTENED (``flattenCollectionTypes=false``):
      one row per KEY carrying the whole array — checked as
      kind='list_len' via size(), pinning the array-shaped surface
      against the element count.

    Three variables of the same state cross-check each other: a broken
    list append shifts 'start' AND 'list_len', a counter drift shifts
    'n_closed' only — the mismatch shape names the bug. The sentinel
    user's still-open session is state too; filtered from the
    materialized batch result (user_id < 0), never inside a streaming
    plan. Scale: each read is one partition-parallel scan of one state
    version (state-sized, not corpus-sized); the flatten option moves
    list explosion JVM-side, so no Python touches the rows."""
    ckpt = _sessionize_tws_ckpt(spark, sf_dir)
    n_closed = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.user_id").alias("user_id"),
            F.lit("n_closed").alias("kind"),
            F.col("value.n_closed").alias("val"),
        ),
        stateVarName="sess",
    )
    starts = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.user_id").alias("user_id"),
            F.lit("start").alias("kind"),
            F.col("list_element.start_us").alias("val"),
        ),
        stateVarName="closed_starts",
        flattenCollectionTypes="true",
    )
    lens = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.user_id").alias("user_id"),
            F.lit("list_len").alias("kind"),
            F.size("list_value").cast("bigint").alias("val"),
        ),
        stateVarName="closed_starts",
        flattenCollectionTypes="false",
    )
    return (
        n_closed.unionByName(starts)
        .unionByName(lens)
        .filter(F.col("user_id") >= 0)
    )


# One YEAR past the last real event — far beyond the sentinel's +30
# days, so the profile fixture's finalize timer can never expire and
# the MapState survives to the final batch intact (the snapshotting
# ST19 run CLEARS the map on expiry, which would leave nothing to
# read). Interpolated into the timer oracle, so both sides re-derive
# the deadline together.
_NEVER_FINALIZE_OFFSET_MS = 365 * 86_400_000


def _profile_never_ms(sf_dir: str) -> int:
    """The never-reachable profile deadline as EXACT integer epoch ms:
    µs→ms must floor the same way DuckDB's ``epoch_ms(max(ts))`` does
    for the timer oracle to hash-match."""
    return feeder.events_max_us(sf_dir) // 1000 + _NEVER_FINALIZE_OFFSET_MS


def _profile_tws_ckpt(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) a completed profile-TWS checkpoint whose
    MapState is NEVER exported: ST19's exact processor
    (stateful.ProfileTws — MapState ``profile`` +
    one event-time finalize timer per key) run with the deadline pushed
    a year past the sentinel, so at the final batch every key still
    holds (a) its complete ``event_type → (n, sum)`` map and (b) one
    live registered timer at the fixed deadline — BOTH read-back
    surfaces (S7g map variables, S7h timers) deterministic by
    construction. Cached per (provider, content tag) with the ``_DONE``
    discipline; changelog checkpointing pinned OFF (the batch reader
    takes the snapshot path — see scan_state_store)."""
    return _state_ckpt(
        spark,
        sf_dir,
        "sss_statestore_twsmap",
        lambda: _profile_tws_frame(spark, sf_dir, _profile_never_ms(sf_dir)),
        parts=_parts(sf_dir),
    )


@query(
    "scan_state_tws_map",
    oracle="""
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY user_id, event_type
    UNION ALL
    SELECT user_id, '*' AS event_type,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def scan_state_tws_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS MAP-STATE reader (S7g, VERDICT r16 item 3): the statestore
    source addressing a MapState variable — the one TWS state primitive
    S7f doesn't cover (it reads ValueState + ListState off ST16's
    checkpoint; ST19 keeps its profile in a MapState that the snapshot
    timer CLEARS, so this key reads a dedicated never-snapshotted twin
    checkpoint, see _profile_tws_ckpt). Two physical surfaces
    cross-check each other:

    - FLATTENED (``flattenCollectionTypes=true``): one row per map
      ENTRY — columns ``key.user_id`` / ``user_map_key.event_type`` /
      ``user_map_value.{n, sum_value}`` — checked against the oracle's
      per-(user, type) count and rounded sum: the complete profile,
      byte-for-byte what ST19 would have exported had its timer fired.
    - UNFLATTENED (``flattenCollectionTypes=false``): one row per KEY
      carrying the whole ``map_value`` — pinned as event_type='*' rows
      via size() (distinct-type count) and an in-row F.aggregate over
      map_values (the per-user total), so a flatten bug that loses or
      duplicates entries breaks '*' and real rows DIFFERENTLY.

    The sentinel user's map is state too — filtered from the
    materialized batch result (user_id < 0), never inside a streaming
    plan. Rounding lives in SQL on both sides (repo rule); the raw map
    values are order-of-accumulation doubles, the same contract ST19's
    oracle already pins. Scale: one partition-parallel scan of one
    state version per read — state-sized, not corpus-sized; the
    flatten explodes map entries JVM-side."""
    ckpt = _profile_tws_ckpt(spark, sf_dir)
    flat = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.user_id").alias("user_id"),
            F.col("user_map_key.event_type").alias("event_type"),
            F.col("user_map_value.n").cast("bigint").alias("n"),
            F.round(F.col("user_map_value.sum_value"), 2).alias("sum_value"),
        ),
        stateVarName="profile",
        flattenCollectionTypes="true",
    )
    whole = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.user_id").alias("user_id"),
            F.lit("*").alias("event_type"),
            F.size("map_value").cast("bigint").alias("n"),
            F.round(
                F.aggregate(
                    F.map_values("map_value"),
                    F.lit(0.0),
                    lambda acc, v: acc + v["sum_value"],
                ),
                2,
            ).alias("sum_value"),
        ),
        stateVarName="profile",
        flattenCollectionTypes="false",
    )
    return flat.unionByName(whole).filter(F.col("user_id") >= 0)


@query(
    "scan_state_tws_timers",
    oracle=f"""
    SELECT user_id,
           (SELECT CAST(epoch_ms(max(ts)) AS BIGINT)
                   + {_NEVER_FINALIZE_OFFSET_MS} FROM events) AS expires_ms
    FROM events GROUP BY user_id
    """,
)
def scan_state_tws_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWS registered-TIMER reader (S7h, VERDICT r16 item 4): the
    statestore source's ``readRegisteredTimers`` option — the third TWS
    audit surface after variables (S7f/S7g) and metadata (S7e): WHICH
    keys hold live timers, expiring WHEN. The option conflicts with
    ``stateVarName`` (STDS_CONFLICT_OPTIONS, measured) — timers are
    their own store, surfaced as ``key`` + ``expiration_timestamp_ms``.

    Determinism, the verdict's precondition for H-checking this
    surface: on ST16/ST19's own checkpoints the sentinel flush EXPIRES
    most timers, leaving a degenerate set — but on the never-snapshot
    profile checkpoint (_profile_tws_ckpt) every user that appeared
    registers exactly ONE timer at the fixed deadline
    (events_max_us + 365 days) and none can expire, so the H-check pins
    the full timer set: one row per distinct user at exactly that
    epoch-ms. The oracle re-derives the deadline from the same
    max-ts + offset arithmetic (_profile_never_ms floors µs→ms the way
    ``epoch_ms`` does). A dropped key, double registration, or
    deadline drift all shift the set. The sentinel's timer is filtered
    from the materialized result (user_id < 0). Scale: the timer store
    is O(live keys) — one partition-parallel scan, corpus-independent."""
    ckpt = _profile_tws_ckpt(spark, sf_dir)
    tm = _statestore_read(
        spark,
        ckpt,
        lambda st: st.select(
            F.col("key.user_id").alias("user_id"),
            F.col("expiration_timestamp_ms").cast("bigint").alias("expires_ms"),
        ),
        readRegisteredTimers="true",
    )
    return tm.filter(F.col("user_id") >= 0)


@query(
    "stream_union_sources",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_v
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source UNION topology (ST23): two independent file-source
    streams (disjoint even/odd ``event_id`` feeds — the two-Kafka-topics
    /two-regions merge every production pipeline hits) unioned into ONE
    watermarked tumbling-window aggregation. What this pins beyond ST1's
    single-feed twin: (a) `unionByName` of two streaming sources is
    planned as one streaming query with two source offsets advancing
    independently, and (b) the GLOBAL watermark is the MIN across
    sources — each feed carries its own sentinel (see
    feeder.chunked_events_split_dirs; a sentinel in only one feed stalls
    the union's watermark at the other source's last real event and the
    final windows never emit in append mode). The oracle is the same
    full-table hourly aggregate as ST1: a hash match proves the split ∪
    merge topology loses and duplicates nothing. Scale: each source
    scales its own file listing/partitioning; post-union state is the
    same windowed agg — state size O(open windows × types), independent
    of source count."""
    d_even, d_odd = feeder.chunked_events_split_dirs(sf_dir)
    a = read_stream_events(spark, d_even)
    b = read_stream_events(spark, d_odd)
    agg = (
        a.unionByName(b)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v_raw"))
    )
    res = run_stream(agg, output_mode="append")
    return res.select(
        _ntz(F.col("w.start")).alias("win_start"),
        "event_type",
        "n",
        F.round("sum_v_raw", 2).alias("sum_v"),
    )


@query(
    "stateful_running_agg_tws_bootstrap",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stateful_running_agg_tws_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TWS INITIAL STATE (ST24): the batch→streaming state handoff.
    A batch GROUP BY over the EVEN-event_id half of events seeds the
    streaming state via ``transformWithStateInPandas(initialState=...)``
    (``handleInitialState`` runs once per seeded key in batch 0); the
    ODD half then streams through the same running agg (reusing ST23's
    split feeds). The H-check is the point: seeded-state + incremental
    updates must hash-equal the full-table GROUP BY — the exact contract
    of replacing a backfill+lambda architecture with "bootstrap the
    stream from the backfill table". Seeded keys that never receive a
    stream row emit nothing (handleInitialState cannot emit), so the
    materialization unions the bootstrap table and takes the per-key
    arg-max by the MONOTONE running count n — a stream emission for a
    key always carries n strictly greater than its seed. Scale: the
    bootstrap table distributes with the state store's own key
    partitioning (Spark co-partitions initialState by the grouping
    key); no extra shuffle beyond the one any stateful op pays."""
    _, d_odd = feeder.chunked_events_split_dirs(sf_dir)
    ev = read_stream_events(spark, d_odd)
    init_df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    updates = ev.groupBy("user_id").transformWithStateInPandas(
        stateful.RunningAgg(),
        outputStructType=stateful.RUNNING_AGG_OUTPUT,
        outputMode="Update",
        timeMode="None",
        initialState=init_df.groupBy("user_id"),
    )
    res = run_stream(updates, output_mode="update", state_partitions=_parts(sf_dir))
    merged = res.filter(F.col("user_id") >= 0).unionByName(init_df)
    final = merged.groupBy("user_id").agg(
        F.max(F.struct("n", "sum_value")).alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n").alias("n"),
        F.round(F.col("s.sum_value"), 2).alias("sum_value"),
    )


def merge_table_path(sf_dir: str) -> str:
    """Cache location for stream_merge_to_table's versioned table root."""
    return cache_dir("sss_mergetable", sf_dir, "events")


_MERGE_TABLE_SCHEMA = (
    "user_id bigint, last_us bigint, last_eid bigint, "
    "last_type string, last_value double, n_changes bigint"
)


def _merge_committed_epochs(root: str) -> list[int]:
    import os

    log = os.path.join(root, "_COMMITTED")
    if not os.path.exists(log):
        return []
    with open(log) as f:
        return [int(line) for line in f.read().split() if line]


def merge_epoch(root: str, batch: DataFrame, epoch_id: int) -> None:
    """One foreachBatch MERGE step for stream_merge_to_table (module-level
    so the replay-idempotence test can drive it directly): arg-max the
    batch per user, union with the previous committed version, re-arg-max,
    write version ``v{epoch}``, THEN append the epoch to ``_COMMITTED``.
    A replayed epoch (already in the log) is skipped wholesale."""
    import os

    committed = _merge_committed_epochs(root)
    if epoch_id in committed:
        return  # replayed epoch: already merged, skip wholesale
    sess = batch.sparkSession
    batch_latest = (
        batch.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("last_us"),
            F.col("event_id").alias("last_eid"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
        )
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("last_us", "last_eid", "last_type", "last_value")
            ).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_changes"),
        )
        .select(
            "user_id", "s.last_us", "s.last_eid", "s.last_type",
            "s.last_value", "n_changes",
        )
    )
    if committed:
        prev = sess.read.schema(_MERGE_TABLE_SCHEMA).parquet(
            os.path.join(root, f"v{max(committed):05d}")
        )
        merged = (
            prev.unionByName(batch_latest)
            .groupBy("user_id")
            .agg(
                F.max(
                    F.struct("last_us", "last_eid", "last_type", "last_value")
                ).alias("s"),
                F.sum("n_changes").cast("bigint").alias("n_changes"),
            )
            .select(
                "user_id", "s.last_us", "s.last_eid", "s.last_type",
                "s.last_value", "n_changes",
            )
        )
    else:
        merged = batch_latest
    vdir = os.path.join(root, f"v{epoch_id:05d}")
    merged.write.mode("overwrite").parquet(vdir)
    # version fully written — NOW commit the epoch
    with open(os.path.join(root, "_COMMITTED"), "a") as f:
        f.write(f"{epoch_id}\n")


@query(
    "stream_merge_to_table",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           value AS last_value,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM (SELECT user_id, ts, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n_changes
          FROM events)
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_merge_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE materialization (ST28) — the lakehouse
    `MERGE INTO` pattern a stream maintains an upsert table with, built
    sandbox-honestly on parquet (no Delta/Iceberg jars here): each
    micro-batch is merged latest-wins into a COPY-ON-WRITE versioned
    table (`v{epoch}/` dirs under one root), and an append-only
    `_COMMITTED` epoch log makes the merge IDEMPOTENT under foreachBatch's
    at-least-once replay contract — a replayed epoch is skipped wholesale
    (checked first, logged only after its version dir is fully written),
    so a crash between write and log re-runs the merge into the same
    version dir, and a crash after the log is a no-op. That
    write-then-log ordering + version isolation is exactly the
    transaction-log discipline of the real table formats.

    Merge semantics per batch (all distributed DataFrame ops, no driver
    rows): arg-max the batch per user on the monotone (event-us,
    event_id) pair, union with the previous version, re-arg-max, and SUM
    the change counters. Latest record of type 'error' acts as a
    tombstone — the row is dropped at read time (same contract as
    stream_cdc_upsert / cdc_upsert_latest; identical oracle, different
    machinery: this key pins the per-batch MERGE + epoch-log path, the
    stateful key pins keyed state).

    Scale: copy-on-write rewrites the table per batch — right for
    dimension-sized upsert targets (the 100 TB fact-side path would
    shard the target by key range so each batch rewrites only touched
    shards, or use a merge-on-read format; the epoch-log idempotence
    and the latest-wins algebra carry over unchanged)."""
    import functools
    import os

    root = merge_table_path(sf_dir)
    fill_once(
        root,
        lambda: run_stream(
            _stream(spark, sf_dir, sentinels=False),
            sink=lambda w: w.foreachBatch(functools.partial(merge_epoch, root)).start(),
        ),
    )
    committed = _merge_committed_epochs(root)
    final = spark.read.schema(_MERGE_TABLE_SCHEMA).parquet(
        os.path.join(root, f"v{max(committed):05d}")
    )
    return final.filter(F.col("last_type") != "error").select(
        "user_id",
        _ntz(F.expr("timestamp_micros(last_us)")).alias("last_ts"),
        "last_type",
        "last_value",
        "n_changes",
    )


from ..operators.statistics import HOLT_ORACLE as _HOLT_ORACLE  # noqa: E402


@query("stream_holt_linear", oracle=_HOLT_ORACLE)
def stream_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt linear-trend smoothing (ST29) — the INCREMENTAL
    twin of E24 `events_holt_linear`, same DuckDB oracle (attached via
    registry after both modules import; see bottom of this file): a
    numeric recurrence maintained in keyed state across micro-batches,
    the capacity-forecast shape a monitoring pipeline actually runs.
    Keyed by event type; state = (level, trend) in exact integer fixed
    point + the open hour's partial sum; closing an hour commits one
    recurrence step, every batch also emits a provisional snapshot of
    the open hour, and a monotone per-key seq lets the materialized
    reader arg-max the authoritative row per hour (the snapshot-
    supersession device — see `stateful.holt_fn`). The hash therefore
    pins the ENTIRE incremental state evolution against the batch
    recursive-CTE replay: a wrong step order, a lost partial sum, or a
    float drift in state flips some hour's (level, trend) and fails the
    driver. Update mode without watermark help → sentinel-free feed."""
    ev = _stream(spark, sf_dir, sentinels=False)
    updates = ev.groupBy("event_type").applyInPandasWithState(
        stateful.holt_fn,
        stateful.HOLT_OUTPUT,
        stateful.HOLT_STATE,
        "update",
        "NoTimeout",
    )
    res = run_stream(updates, output_mode="update", state_partitions=_parts(sf_dir))
    final = res.groupBy("event_type", "win_start_us").agg(
        F.max(F.struct("seq", "x", "l", "b")).alias("s")
    )
    return final.select(
        "event_type",
        _ntz(F.expr("timestamp_micros(win_start_us)")).alias("win_start"),
        F.col("s.x").alias("sum_v_c"),
        F.col("s.l").alias("level_c"),
        F.col("s.b").alias("trend_c"),
        (F.col("s.l") + F.col("s.b")).cast("bigint").alias("forecast_c"),
        F.round(
            (F.col("s.l") + F.col("s.b")).cast("double") / 100, 2
        ).alias("forecast"),
    )

