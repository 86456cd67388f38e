"""Streaming-specific tests beyond the oracle gate (SURVEY.md §5.2.2-3):
checkpoint recovery (ST11), watermark late-drop (ST10), foreachBatch
parquet sink (S5), sink output-mode coverage, and hot-key stress for
both Python-stateful APIs. (The rate source S4 is covered in
tests/test_sources.py through the sources.streams wrapper.)"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.catalog import load_table, read_stream_events
from sparkstreamingstateful_spark.session import conf_guard
from sparkstreamingstateful_spark.streaming.feeder import chunked_events_dir
from sparkstreamingstateful_spark.streaming.runner import run_stream

from .conftest import SF_UNIT

QUERIES, _ = registry.collect()


def test_late_data_dropped(spark):
    """ST10: a chunk held back past the watermark loses its rows."""
    late = QUERIES["stream_window_late_drop"](spark, SF_UNIT)
    n_late = late.agg(F.sum("n")).collect()[0][0]
    n_all = load_table(spark, SF_UNIT, "events").count()
    assert n_late < n_all, "late chunk should have been dropped"
    assert n_late >= n_all * 0.5, "only the late chunk should be missing"


_CRASH = "deliberate crash between the batch-1 sink write and its commit"


def _ls(ckpt, sub):
    return sorted(f for f in os.listdir(os.path.join(ckpt, sub)) if f[0] != ".")


def _run_to_dir(df, ckpt, out, *, crash=False, output_mode="append"):
    """The restart tests' one run: ``df`` through ``run_stream`` from the
    fixed checkpoint ``ckpt`` into ``out/b<epoch>``. Each epoch
    OVERWRITES its own dir, so a replayed epoch rewrites its output and
    the sink stays exactly-once under at-least-once replay (with append,
    a crash between the parquet commit and the checkpoint commit would
    duplicate that epoch's rows). With ``crash`` the run raises right
    after batch 1's sink write, so it dies between that write and the
    commit log at the same boundary every run (stopping the query once
    ``commits/`` shows up races the next batch): batch 1 planned, only
    batch 0 committed."""

    def write(batch_df, epoch):
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"b{epoch}"))
        if crash and epoch == 1:
            raise RuntimeError(_CRASH)

    def run():
        run_stream(
            df,
            output_mode=output_mode,
            checkpoint=ckpt,
            sink=lambda w: w.foreachBatch(write).start(),
        )

    if crash:
        with pytest.raises(Exception, match=_CRASH):
            run()
        assert (_ls(ckpt, "offsets"), _ls(ckpt, "commits")) == (["0", "1"], ["0"])
    else:
        run()


def test_foreachbatch_parquet_sink_and_recovery(spark, tmp_path):
    """S5 + ST11: foreachBatch→parquet with checkpointing; kill after the
    first batches, restart from the same checkpoint, assert exactly-once
    (no loss, no duplication) in the sink."""
    feed = chunked_events_dir(SF_UNIT, n_chunks=4, sentinels=False)
    ev = read_stream_events(spark, feed)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    # phase 1: crash after batch 1's sink write, before its commit
    _run_to_dir(ev, ckpt, out, crash=True)
    # phase 2: restart from the same checkpoint → finish the feed
    _run_to_dir(ev, ckpt, out)

    sink = spark.read.parquet(os.path.join(out, "b*"))
    expected = load_table(spark, SF_UNIT, "events")
    assert sink.count() == expected.count()  # no loss, no duplication
    assert sink.select("event_id").distinct().count() == expected.count()


@pytest.mark.usefixtures("tmp_cache")
def test_events_ts_unit_duality(spark, tmp_path):
    """The events loader must read BOTH physical ts generations —
    timestamp[ns] (legacy, long-nanos + div-1000 conversion) and
    timestamp[us] (direct) — to identical TimestampNTZ rows, batch and
    streaming. A testdata regeneration flipped ns→us mid-build once; this
    pins both paths so a future flip (either direction) fails loud here,
    not as a silent 1000× timestamp skew in 30 oracle checks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkstreamingstateful_spark.catalog import events_ts_unit

    src = pq.read_table(os.path.join(SF_UNIT, "events.parquet")).slice(0, 2000)
    i = src.schema.get_field_index("ts")
    ts_us = src.column("ts").cast(pa.timestamp("us"))
    dirs = {}
    for unit, col in (("us", ts_us), ("ns", ts_us.cast(pa.timestamp("ns")))):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(src.set_column(i, "ts", col), str(d / "events.parquet"))
        dirs[unit] = str(d)
        assert events_ts_unit(str(d / "events.parquet")) == unit

    # batch loader: identical rows (ts lands as TimestampNTZ both ways)
    batch = {
        u: load_table(spark, d, "events").orderBy("event_id").collect()
        for u, d in dirs.items()
    }
    assert batch["us"] == batch["ns"]
    assert len(batch["us"]) == src.num_rows

    # streaming loader: identical materialized rows from a chunked feed
    stream = {}
    for u, d in dirs.items():
        feed = chunked_events_dir(d, n_chunks=2, sentinels=False)
        res = run_stream(read_stream_events(spark, feed).select("event_id", "ts"))
        stream[u] = sorted(map(tuple, res.collect()))
    assert stream["us"] == stream["ns"]
    assert len(stream["us"]) == src.num_rows


@pytest.mark.usefixtures("tmp_cache")
def test_sessionize_survives_late_groups(spark, tmp_path):
    """Robustness: a NON-time-ordered feed (each chunk spans the full time
    range — the shape of out-of-order file arrival on a real lake)
    delivers whole groups BEHIND the watermark to the state function.
    sessionize_fn must close such sessions inline rather than set an
    event-time timeout in the past (INVALID_TIMEOUT_TIMESTAMP kills the
    query — found by the 10× scale probe). Emissions for late users are
    best-effort fragments per watermark semantics; the contract here is:
    the query completes, every user surfaces, and (user, sess_start) is
    never emitted twice."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sparkstreamingstateful_spark.streaming import stateful

    src = pq.read_table(os.path.join(SF_UNIT, "events.parquet"))
    uid = src.column("user_id")
    eid = src.column("event_id")
    uspan, espan = pc.max(uid).as_py() + 1, pc.max(eid).as_py() + 1
    rep = src.set_column(
        src.schema.get_field_index("user_id"), "user_id", pc.add(uid, uspan)
    ).set_column(
        src.schema.get_field_index("event_id"), "event_id", pc.add(eid, espan)
    )
    d = tmp_path / "unordered"
    d.mkdir()
    # two full-range replicas back to back, NOT sorted by ts: chunk 2's
    # watermark (from chunk 1's max ≈ global max) is ahead of everything
    # replica 2 delivers
    pq.write_table(pa.concat_tables([src, rep]), str(d / "events.parquet"))
    feed = chunked_events_dir(str(d), n_chunks=2, sentinels=True)

    ev = read_stream_events(spark, feed)
    sessions = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            stateful.sessionize_fn,
            stateful.SESSION_OUTPUT,
            stateful.SESSION_STATE,
            "append",
            "EventTimeTimeout",
        )
    )
    res = run_stream(sessions, output_mode="append").filter(F.col("user_id") >= 0)
    rows = res.collect()
    users = {r.user_id for r in rows}
    assert {u.as_py() for u in uid.combine_chunks().unique()} <= users
    assert {u.as_py() + uspan for u in uid.combine_chunks().unique()} <= users
    keys = [(r.user_id, r.sess_start_us) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (user, sess_start) emission"


@pytest.mark.usefixtures("tmp_cache")
def test_sessionize_kill_restart_unsorted_10x(spark, tmp_path):
    """ST11c — the interaction the r4 scale probe left untested:
    checkpoint recovery UNDER out-of-order delivery at 10× volume.
    A 10-replica unsorted feed (each chunk spans the full time range)
    runs through sessionize twice: straight through, and killed after
    ≥1 commit then restarted from the same checkpoint.

    Contract (discovered writing this test, pinned here):

    * Groups whose events are ALL behind the late-events watermark are
      dropped wholly by Spark BEFORE the state function — correct
      watermark semantics, so late replicas surface exactly the users
      with at least one event inside the watermark window (the
      late-events filter lags the eviction watermark by one batch,
      which is why chunk-1 replicas still surface fully, and why r4's
      in-function INVALID_TIMEOUT_TIMESTAMP fix sees only partially-
      late groups).
    * Recovery must not change the answer: the kill/restart run's sink
      equals the straight run's, row for row (per-batch OVERWRITE sink
      keeps at-least-once replay exactly-once).
    * (user, sess_start) is never emitted twice, and the query
      completes on both paths."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sparkstreamingstateful_spark.streaming import stateful

    src = pq.read_table(os.path.join(SF_UNIT, "events.parquet"))
    uid, eid = src.column("user_id"), src.column("event_id")
    uspan = pc.max(uid).as_py() + 1
    espan = pc.max(eid).as_py() + 1
    ui = src.schema.get_field_index("user_id")
    ei = src.schema.get_field_index("event_id")
    reps = [
        src.set_column(ui, "user_id", pc.add(uid, k * uspan)).set_column(
            ei, "event_id", pc.add(eid, k * espan)
        )
        for k in range(10)
    ]
    d = tmp_path / "unordered10x"
    d.mkdir()
    pq.write_table(pa.concat_tables(reps), str(d / "events.parquet"))
    feed = chunked_events_dir(str(d), n_chunks=5, sentinels=True)

    sessions = (
        read_stream_events(spark, feed)
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            stateful.sessionize_fn,
            stateful.SESSION_OUTPUT,
            stateful.SESSION_STATE,
            "append",
            "EventTimeTimeout",
        )
    )

    def run_pipeline(kill: bool) -> list[tuple]:
        run_dir = tmp_path / ("killed" if kill else "straight")
        ckpt, out = str(run_dir / "ckpt"), str(run_dir / "out")
        if kill:
            _run_to_dir(sessions, ckpt, out, crash=True)
        _run_to_dir(sessions, ckpt, out)
        done = _ls(ckpt, "commits")
        # one batch per feed file (5 chunks, the last one carrying the
        # sentinel) + a flush batch
        n_batches = 5 + 1
        assert len(done) >= n_batches, (
            f"expected >={n_batches} committed batches, got {done}"
        )
        return sorted(
            map(
                tuple,
                spark.read.parquet(os.path.join(out, "b*"))
                .filter(F.col("user_id") >= 0)
                .collect(),
            )
        )

    straight = run_pipeline(kill=False)
    recovered = run_pipeline(kill=True)

    assert recovered == straight, (
        "kill/restart changed the result: "
        f"{len(recovered)} vs {len(straight)} rows"
    )

    rows = straight
    users = {r[0] for r in rows}
    base_users = {u.as_py() for u in uid.combine_chunks().unique()}
    # users whose LAST event predates the late-events watermark (max ts −
    # 10 min): their whole group arrives behind the watermark in chunks
    # 2+, and Spark's late-row filter drops it before the state function
    ts = src.column("ts")
    max_us = pc.max(ts.cast(pa.timestamp("us")).cast(pa.int64())).as_py()
    cutoff = max_us - 10 * 60 * 1_000_000
    import collections

    last_by_user = collections.defaultdict(int)
    for u, t in zip(
        uid.to_pylist(), ts.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    ):
        last_by_user[u] = max(last_by_user[u], t)
    wholly_late = {u for u, t in last_by_user.items() if t < cutoff}
    for k in range(10):
        missing = {u + k * uspan for u in base_users} - users
        if k < 4:
            # chunks 0-1: on-time or protected by the one-batch filter lag
            assert not missing, f"replica {k}: {len(missing)} users missing"
        else:
            want = {u + k * uspan for u in wholly_late}
            assert missing == want, (
                f"replica {k}: dropped set diverges from watermark "
                f"semantics: {sorted(missing ^ want)[:6]}"
            )
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (user, sess_start) emission"


def test_windowed_agg_sentinel_after_restart(spark, tmp_path):
    """ST11d — the r5 single-sentinel design across a restart boundary:
    run 1 drains ONLY the data chunks (append-mode windows stay unemitted
    in the state store), then a sentinel-only file lands in the feed dir
    and a NEW run from the same checkpoint must discover it, advance the
    watermark, and emit every real window in its flush batch. Guards the
    interaction the sentinel cut depends on: watermark state recovered
    from the checkpoint + noDataMicroBatches flush after the last file of
    a LATER availableNow run — i.e. continuous ingestion where stream
    closure happens in a different process than stream start. (The
    sentinel feeds fold the sentinel into their last data file, so run 1
    copies the sentinel-free chunks and the restart adds the row as a
    file of its own.)"""
    import glob
    import shutil

    import pyarrow.parquet as pq

    from sparkstreamingstateful_spark.streaming import feeder

    src_feed = chunked_events_dir(SF_UNIT, n_chunks=3, sentinels=False)
    data_files = sorted(glob.glob(os.path.join(src_feed, "*.parquet")))

    feed = tmp_path / "feed"
    feed.mkdir()
    for f in data_files:
        shutil.copy2(f, feed / os.path.basename(f))

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    agg = (
        read_stream_events(spark, str(feed))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    _run_to_dir(agg, ckpt, out)  # drains data chunks; windows stay in state
    emitted = glob.glob(os.path.join(out, "b*", "*.parquet"))
    early = (
        spark.read.parquet(os.path.join(out, "b*"))
        .filter(F.col("event_type") != "__sentinel__")
        .count()
        if emitted
        else 0
    )

    sentinel = feeder._sentinel_table(SF_UNIT, pq.read_schema(data_files[0]))
    pq.write_table(sentinel, str(feed / f"{len(data_files):04d}.parquet"))
    _run_to_dir(agg, ckpt, out)  # restart: discovers sentinel, flush evicts

    res = (
        spark.read.parquet(os.path.join(out, "b*"))
        .filter(F.col("event_type") != "__sentinel__")
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n",
        )
    )
    expected = (
        load_table(spark, SF_UNIT, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("win_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = sorted(map(tuple, res.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want, (
        f"run1 emitted {early} rows; after sentinel restart got "
        f"{len(got)} vs batch twin {len(want)}"
    )


@pytest.mark.usefixtures("tmp_cache")
def test_feeder_raw_int64_nanos_ts(tmp_path):
    """An events file whose ts column is RAW int64 nanos (which
    catalog.events_ts_unit explicitly classifies as 'ns') must produce
    (a) a correct µs max-ts — not 1000× inflated — and (b) sentinel rows
    valued in NANOS, ahead of all real data. Before the r5 fix, _to_us
    fell into the timestamp-cast branch for integers (inflating max_ts
    1000×) and _sentinel_table emitted µs-valued int64 sentinels 1000×
    in the PAST, stalling the watermark so append streams emit nothing."""
    import glob

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sparkstreamingstateful_spark.catalog import events_ts_unit
    from sparkstreamingstateful_spark.streaming import feeder

    src = pq.read_table(os.path.join(SF_UNIT, "events.parquet")).slice(0, 1000)
    i = src.schema.get_field_index("ts")
    ns_ints = src.column("ts").cast(pa.timestamp("ns")).cast(pa.int64())
    d = tmp_path / "rawns"
    d.mkdir()
    pq.write_table(src.set_column(i, "ts", ns_ints), str(d / "events.parquet"))
    assert events_ts_unit(str(d / "events.parquet")) == "ns"

    max_us_true = (
        src.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
    )
    max_us_true = pc.max(max_us_true).as_py()
    got = feeder.events_max_us(str(d))
    assert got == max_us_true, f"max_us {got} != {max_us_true} (1000x skew?)"

    feed = feeder.chunked_events_dir(str(d), n_chunks=2, sentinels=True)
    files = sorted(glob.glob(os.path.join(feed, "*.parquet")))
    assert len(files) == 2  # the sentinel rides in the last data file
    max_data_ns = pc.max(ns_ints).as_py()
    t = pq.read_table(files[-1])
    assert t.column("ts").type == pa.int64()  # schema matches data files
    assert t.column("user_id")[-1].as_py() == -1
    sent_ns = t.column("ts")[-1].as_py()
    assert sent_ns > max_data_ns, "sentinel must be ahead of all data"
    days = (sent_ns - max_data_ns) / (86_400 * 1e9)
    assert 29 < days < 32, f"sentinel offset {days} days — unit skew"


def test_events_ts_unit_rejects_mixed_dir(tmp_path):
    """A chunk dir mixing ts physical units (stale feeder output alongside
    regenerated chunks) must be rejected loudly, not silently read under
    the first file's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from sparkstreamingstateful_spark.catalog import events_ts_unit

    src = pq.read_table(os.path.join(SF_UNIT, "events.parquet")).slice(0, 100)
    i = src.schema.get_field_index("ts")
    us = src.set_column(i, "ts", src.column("ts").cast(pa.timestamp("us")))
    ns = src.set_column(i, "ts", src.column("ts").cast(pa.timestamp("ns")))
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(us, str(d / "0000.parquet"))
    pq.write_table(ns, str(d / "0001.parquet"))
    with pytest.raises(TypeError, match="mixed events.ts"):
        events_ts_unit(str(d))


def test_console_sink(spark):
    """S5: console sink runs (smoke)."""
    feed = chunked_events_dir(SF_UNIT, n_chunks=2, sentinels=False)
    counts = read_stream_events(spark, feed).groupBy("event_type").count()
    run_stream(
        counts,
        output_mode="complete",
        sink=lambda w: w.format("console").start(),
    )


def test_progress_belongs_to_last_query(spark):
    """runner.LAST_QUERY_PROGRESS describes the stream that ran last, also
    when that stream has its own sink: after a memory-sink key, the
    foreachBatch top-k key must leave ITS batches there, not the earlier
    key's (perfbench and bench.py's per-key record read this list)."""
    from sparkstreamingstateful_spark.streaming import runner

    QUERIES["stream_window_tumbling"](spark, SF_UNIT)
    assert runner.LAST_QUERY_PROGRESS
    QUERIES["stream_topk_per_window"](spark, SF_UNIT)
    sinks = {p["sink"]["description"] for p in runner.LAST_QUERY_PROGRESS}
    assert sinks and all("ForeachBatch" in d for d in sinks), sinks


def test_topk_sink_exactly_once_under_replay(spark, duck, monkeypatch):
    """stream_topk_per_window's foreachBatch sink survives a replayed
    epoch: with every epoch's sink write run twice, as a crash between
    that write and the commit log makes the restart do, the read-back
    still equals the oracle (an appending sink doubles every row)."""
    from pyspark.sql.streaming import DataStreamWriter

    from .conftest import compare

    foreach_batch = DataStreamWriter.foreachBatch

    def each_epoch_twice(writer, fn):
        def replayed(batch_df, epoch):
            fn(batch_df, epoch)
            fn(batch_df, epoch)

        return foreach_batch(writer, replayed)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", each_epoch_twice)
    compare(
        QUERIES["stream_topk_per_window"](spark, SF_UNIT),
        duck,
        registry.collect()[1]["stream_topk_per_window"],
        name="topk_replayed",
    )


def test_bench_record_keeps_only_its_own_stream(spark):
    """bench.measure_key hands back a key's progress only when that key
    ran a stream: a batch key right after a stream key must not inherit
    the stream's batches, and the job tag is cleared afterwards."""
    import bench

    _, progress = bench.measure_key(
        spark, "t:stream", QUERIES["stream_window_tumbling"], SF_UNIT
    )
    assert progress
    _, progress = bench.measure_key(spark, "t:batch", QUERIES["agg_hash_q1"], SF_UNIT)
    assert progress is None
    assert spark.sparkContext.getLocalProperty(bench.TAG_PROPERTY) is None


def test_runner_guards_hold_on_every_path(spark):
    """The runner core's guards: with no-data micro-batches disabled,
    run_stream and a custom-sink key both refuse before any query starts;
    a failing sink's error reaches the caller; and the partition count
    and extra confs held for the run are restored after that failure."""
    from sparkstreamingstateful_spark.streaming import runner

    ev = read_stream_events(
        spark, chunked_events_dir(SF_UNIT, n_chunks=2, sentinels=False)
    )
    before = runner.LAST_QUERY_PROGRESS
    no_data = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    with conf_guard(spark, no_data):
        with pytest.raises(RuntimeError, match="noDataMicroBatches"):
            runner.run_stream(ev)
        with pytest.raises(RuntimeError, match="noDataMicroBatches"):
            QUERIES["stream_topk_per_window"](spark, SF_UNIT)
    assert runner.LAST_QUERY_PROGRESS is before  # no query ran
    assert not spark.streams.active

    def boom(batch_df, batch_id):
        raise ValueError("sink failed on purpose")

    extra = "spark.sss.test.runner_extra"
    spark.conf.set(extra, "prior")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with pytest.raises(Exception, match="sink failed on purpose"):
            runner.run_stream(
                ev,
                state_partitions=3,
                sink=lambda w: w.foreachBatch(boom).start(),
                conf={extra: "held"},
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts
        assert spark.conf.get(extra) == "prior"
        assert not spark.streams.active
    finally:
        spark.conf.unset(extra)


def test_runner_removes_its_temp_checkpoint(spark, tmp_path, monkeypatch):
    """A stream run without a fixed checkpoint leaves no ``sss_ckpt_*``
    dir in the temp dir, whether it succeeds (memory or foreachBatch
    sink) or its sink raises; the dir does exist while the query runs,
    and the memory table stays readable after the removal."""
    import contextlib
    import glob
    import tempfile

    ev = read_stream_events(
        spark, chunked_events_dir(SF_UNIT, n_chunks=2, sentinels=False)
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pattern = str(tmp_path / "sss_ckpt_*")

    res = run_stream(ev)
    assert not glob.glob(pattern)
    assert res.count() == load_table(spark, SF_UNIT, "events").count()

    for fail in (False, True):
        seen = []

        def write(batch_df, epoch):
            seen.extend(glob.glob(pattern))
            if fail:
                raise ValueError("sink failed on purpose")

        raises = pytest.raises(Exception, match="sink failed on purpose")
        with raises if fail else contextlib.nullcontext():
            run_stream(ev, sink=lambda w: w.foreachBatch(write).start())
        assert seen, "no temp checkpoint while the query ran"
        assert not glob.glob(pattern), f"temp checkpoint left (fail={fail})"


def test_dedup_watermarked_state_evicted(spark):
    """The point of dropDuplicatesWithinWatermark over dropDuplicates is
    BOUNDED state: rows whose event time falls behind the watermark must
    leave the state store. The 15-day horizon on a 30-day feed means the
    state must fill to the full distinct-row count mid-run (every original
    is held until its replay is absorbed) and then DRAIN when the sentinel
    pushes the watermark past every row's ``ts + delay`` expiry in the
    flush batch — unbounded dropDuplicates would end at the full count."""
    from sparkstreamingstateful_spark.streaming import runner

    res = QUERIES["stream_dedup_watermarked"](spark, SF_UNIT)
    n_out = res.count()
    n_all = load_table(spark, SF_UNIT, "events").count()
    assert n_out == n_all  # exactly-once restored

    state_rows = [
        op["numRowsTotal"]
        for p in runner.LAST_QUERY_PROGRESS
        for op in p.get("stateOperators", [])
        if op.get("numRowsTotal") is not None
    ]
    assert state_rows, "no state-operator metrics recorded"
    peak, final_state = max(state_rows), state_rows[-1]
    assert peak >= n_all, f"state never held the full feed (peak {peak})"
    assert final_state < n_all * 0.05, (
        f"expected the flush batch to drain expired dedup state; "
        f"final numRowsTotal={final_state} of {n_all}"
    )


def test_left_join_nulls_require_watermark(spark):
    """Outer stream-stream joins emit a null-extended row only once the
    watermark proves no match can still arrive. The data's own watermark
    trails max event time by the 10-minute delay, so WITHOUT the sentinel
    every unmatched purchase inside the final watermark lag is still
    pending at end-of-stream; the sentinel (registered key) closes them.
    This pins the emission timing: missing rows are exactly a suffix of
    event time, never sprinkled."""
    from sparkstreamingstateful_spark.streaming.queries import _interval_join

    def left_join(feed):
        joined = _interval_join(read_stream_events(spark, feed), "left_outer")
        return run_stream(
            joined.select("purchase_id", "click_id"), output_mode="append"
        ).filter(F.col("purchase_id") >= 0)

    no_sentinel = left_join(chunked_events_dir(SF_UNIT, sentinels=False))
    purchases = load_table(spark, SF_UNIT, "events").filter(
        F.col("event_type") == "purchase"
    )
    n_purchases = purchases.count()
    emitted = {r[0] for r in no_sentinel.select("purchase_id").distinct().collect()}
    missing = {
        r["event_id"]
        for r in purchases.select("event_id", "ts").collect()
        if r["event_id"] not in emitted
    }
    assert missing, "every purchase emitted without the watermark closing"
    # the pending rows are those the final watermark hasn't released: a
    # contiguous event-time suffix of the stream. The query carries TWO
    # withWatermark branches and Spark's multi-watermark policy takes the
    # MIN of their per-branch values (measured: final wm tracked the
    # click side's max, hours behind the purchase side's), so the bound is
    # min(max purchase ts, max click ts) - delay (10 min) - the join's
    # conservative left-side eviction margin (another interval width).
    ev = load_table(spark, SF_UNIT, "events")
    side_max = [
        ev.filter(F.col("event_type") == t).agg(F.max("ts")).collect()[0][0]
        for t in ("purchase", "click")
    ]
    late_bound = {
        r["event_id"]
        for r in purchases.filter(
            F.col("ts") > F.lit(min(side_max)) - F.expr("INTERVAL 20 MINUTES")
        ).collect()
    }
    assert missing <= late_bound, (
        f"rows missing outside the watermark lag: {sorted(missing - late_bound)[:5]}"
    )

    full = QUERIES["stream_stream_join_left"](spark, SF_UNIT)
    assert full.filter(F.col("click_id").isNull()).count() > 0
    assert full.select("purchase_id").distinct().count() == n_purchases


def _skew_stress(spark, tmp_path, make_updates, label):
    """Shared hot-key stress harness: 90% of events rehomed to one
    user_id (rows 0..0.9n -> user 0, rest keep their id), fed as 3
    mtime-ordered chunks. ``make_updates(ev)`` supplies the stateful
    running-agg transform under test. Asserts (a) correctness — keyed
    state must equal the batch value_counts — and (b) the sub-linear
    wall-clock bound: 4x leaves room for the documented ±35% VM noise;
    a true single-partition collapse on 9x the work would far exceed
    it. ONE definition for both stateful APIs — a drifted copy of the
    skew recipe or the bound would silently let the twins diverge."""
    import time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(SF_UNIT, "events.parquet"))
    n = src.num_rows
    hot = pa.array([0] * (n * 9 // 10), pa.int64())
    tail = src.column("user_id").slice(n * 9 // 10).combine_chunks()
    skewed = src.set_column(
        src.schema.get_field_index("user_id"),
        "user_id",
        pa.chunked_array([hot, tail]),
    )

    def feed_of(table, sub):
        d = tmp_path / sub
        d.mkdir()
        pq.write_table(table, str(d / "events.parquet"))
        return chunked_events_dir(str(d), 3, sentinels=False)

    def run(feed):
        ev = read_stream_events(spark, feed)
        res = run_stream(
            make_updates(ev), output_mode="update", state_partitions=4
        )
        return (
            res.groupBy("user_id")
            .agg(F.max(F.struct("n", "sum_value")).alias("s"))
            .select("user_id", F.col("s.n").alias("n"))
        )

    t0 = time.perf_counter()
    uni = run(feed_of(src, "uniform"))
    n_uniform_keys = uni.count()
    t_uniform = time.perf_counter() - t0

    t0 = time.perf_counter()
    got = {r["user_id"]: r["n"] for r in run(feed_of(skewed, "skewed")).collect()}
    t_skew = time.perf_counter() - t0

    want = {
        k.as_py(): v.as_py()
        for k, v in zip(*pc.value_counts(skewed.column("user_id")).flatten())
    }
    assert got == want, f"{label}: skewed-feed state diverges from batch counts"
    assert n_uniform_keys == 15  # uniform baseline sanity (sf0.001 cardinality)
    assert t_skew < 4 * max(t_uniform, 1.0), (
        f"{label} skew collapse: uniform {t_uniform:.1f}s vs skewed {t_skew:.1f}s"
    )


@pytest.mark.usefixtures("tmp_cache")
def test_stateful_skew_stress(spark, tmp_path):
    """Hot-key stress for the applyInPandasWithState path (VERDICT r5
    item 7): the hot key serializes one partition's pandas work, not the
    whole query — see _skew_stress."""
    from sparkstreamingstateful_spark.streaming import stateful

    def updates(ev):
        return ev.groupBy("user_id").applyInPandasWithState(
            stateful.running_agg_fn,
            stateful.RUNNING_AGG_OUTPUT,
            stateful.RUNNING_AGG_STATE,
            "update",
            "NoTimeout",
        )

    _skew_stress(spark, tmp_path, updates, "applyInPandasWithState")


@pytest.fixture(scope="module")
def running_agg_restart(spark, tmp_path_factory):
    """One kill/restart of the STATEFUL path (applyInPandasWithState over
    ``running_agg_fn``, 4 chunks), shared by the two tests below so
    tier-1 runs this crash/restart stream pair once. Phase 1 crashes in
    batch 1, after batch 0 committed (state crossed a batch); phase 2
    restarts from the same checkpoint and drains the feed. Returns the
    checkpoint and sink dirs and the ``.changelog`` files phase 1 left."""
    import glob

    from sparkstreamingstateful_spark.streaming import stateful

    feed = chunked_events_dir(SF_UNIT, n_chunks=4, sentinels=False)
    base = tmp_path_factory.mktemp("running_agg_restart")
    ckpt, out = str(base / "ckpt"), str(base / "out")
    updates = (
        read_stream_events(spark, feed)
        .groupBy("user_id")
        .applyInPandasWithState(
            stateful.running_agg_fn,
            stateful.RUNNING_AGG_OUTPUT,
            stateful.RUNNING_AGG_STATE,
            "update",
            "NoTimeout",
        )
    )
    _run_to_dir(updates, ckpt, out, crash=True, output_mode="update")
    changelogs = glob.glob(
        os.path.join(ckpt, "state", "**", "*.changelog"), recursive=True
    )
    _run_to_dir(updates, ckpt, out, output_mode="update")
    return ckpt, out, changelogs


def _assert_recovered(spark, ckpt, out):
    """All 4 micro-batches committed exactly once across both phases, and
    the final per-key ``(n, sum_value)`` equals the batch twin. Replayed
    update-mode emissions are identical rows, so the arg-max
    materialization is idempotent under at-least-once replay."""
    import json

    def ckpt_listing() -> str:
        # what each phase left behind: offsets/ and commits/, plus the
        # feed files each offset batch was planned to read (the file
        # source's per-batch log under sources/0)
        lines = [f"{sub}/: {_ls(ckpt, sub)}" for sub in ("offsets", "commits")]
        for b in _ls(ckpt, "sources/0"):
            with open(os.path.join(ckpt, "sources", "0", b)) as f:
                entries = [json.loads(x) for x in f.read().splitlines()[1:] if x]
            read = [os.path.basename(e["path"]) for e in entries]
            lines.append(f"batch {b} read {read}")
        return "\n".join(lines)

    done = _ls(ckpt, "commits")
    assert len(done) == 4, (
        f"expected 4 committed batches, got {done}\n{ckpt_listing()}"
    )

    final = (
        spark.read.parquet(os.path.join(out, "b*"))
        .groupBy("user_id")
        .agg(F.max(F.struct("n", "sum_value")).alias("s"))
        .select(
            "user_id",
            F.col("s.n").alias("n"),
            F.round("s.sum_value", 2).alias("sum_value"),
        )
    )
    expected = (
        load_table(spark, SF_UNIT, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want, "recovered final state diverges from the batch twin"


def test_stateful_kill_restart_recovery(spark, running_agg_restart):
    """ST11b: the STATEFUL path (applyInPandasWithState) survives a
    kill/restart from the same checkpoint — the state store recovers the
    per-key aggregates, the remaining micro-batches resume, and the final
    per-key state equals the batch twin."""
    ckpt, out, _ = running_agg_restart
    _assert_recovered(spark, ckpt, out)


def test_rocksdb_changelog_checkpointing(spark, running_agg_restart):
    """SURVEY §4.2's at-scale state-backend posture: RocksDB CHANGELOG
    checkpointing (per-batch delta upload instead of full snapshots) is
    enabled session-wide (session.RUNTIME_CONFS), so every stateful query
    here runs under it. On the shared kill/restart run this pins (a) the
    conf is actually active, (b) the crashed phase already wrote
    .changelog files into the checkpoint's state dir, and (c) the restart
    from that checkpoint REPLAYS them and recovers the exact per-key
    state — changelog replay works, not just changelog write. The
    checkpoint files are renamed into place by the FileSystem-based
    manager (session.DEFAULT_CONFS: no `readlink` fork per rename), and
    both checksum layers survive it: Hadoop's `.<name>.crc` sidecar on
    every checkpoint file, and Spark's own `<name>.crc` state checksum
    next to each RocksDB changelog."""
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        == "true"
    )
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    ckpt, out, changelogs = running_agg_restart
    assert changelogs, (
        "no .changelog files under the checkpoint state dir — "
        "changelog checkpointing did not engage"
    )

    def ls(*sub):
        return set(os.listdir(os.path.join(ckpt, *sub)))

    assert {"0", ".0.crc"} <= ls("offsets")
    assert {"1.changelog", ".1.changelog.crc", "1.changelog.crc"} <= ls(
        "state", "0", "0"
    )
    _assert_recovered(spark, ckpt, out)


def test_configure_keeps_session_checkpoint_manager(spark):
    """configure() sets the checkpoint manager only where the session
    has none: a deployment's own manager (say, an object-store one that
    avoids renames) is left as it is."""
    from sparkstreamingstateful_spark.session import DEFAULT_CONFS, configure

    key = "spark.sql.streaming.checkpointFileManagerClass"
    own = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    with conf_guard(spark, {key: own}):
        configure(spark)
        assert spark.conf.get(key) == own
        spark.conf.unset(key)
        configure(spark)
        assert spark.conf.get(key) == DEFAULT_CONFS[key]


def test_processing_time_trigger_equivalence(spark, tmp_path):
    """Trigger.ProcessingTime coverage (every registered key runs
    availableNow): the same windowed aggregation produced under a real
    processing-time trigger — micro-batches fired by wall clock while
    the query runs indefinitely — must equal the batch twin once the
    feed is exhausted. The stop condition polls the complete-mode memory
    sink (wall-clock timers make this an R-check by nature; VERDICT r6
    item 3)."""
    import time
    import uuid

    feed = chunked_events_dir(SF_UNIT, n_chunks=3, sentinels=False)
    ev = read_stream_events(spark, feed)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = "pt_" + uuid.uuid4().hex[:8]
    with conf_guard(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            n_all = load_table(spark, SF_UNIT, "events").count()
            deadline = time.time() + 90
            while time.time() < deadline:
                if q.exception() is not None:
                    raise q.exception()
                got = spark.table(name).agg(F.sum("n")).collect()[0][0]
                if got == n_all:
                    break
                time.sleep(0.2)
            else:
                raise TimeoutError(f"feed not drained: {got}/{n_all} rows")
        finally:
            q.stop()
        q.awaitTermination()
    got = sorted(map(tuple, spark.table(name).collect()))
    want = sorted(
        map(
            tuple,
            load_table(spark, SF_UNIT, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect(),
        )
    )
    assert got == want


def _ttl_probe(ttl_ms):
    """TWS MapState probe: reports how many map entries were VISIBLE at
    the start of each batch (TTL-filtered read) and exercises the
    containsKey/removeKey surface on a scratch entry every batch."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class TtlProbe(StatefulProcessor):
        def init(self, handle):
            self._map = handle.getMapState(
                "seen", "event_type STRING", "n BIGINT", ttlDurationMs=ttl_ms
            )
            self._meta = handle.getValueState("batch_no", "b BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import time as _time

            t_entry_ms = int(_time.time() * 1000)  # read happens now
            data = pd.concat(list(rows), ignore_index=True)
            n_prior = sum(1 for _ in self._map.keys())
            self._map.updateValue(("__scratch__",), (1,))
            if not self._map.containsKey(("__scratch__",)):
                raise AssertionError("containsKey missed a just-written entry")
            self._map.removeKey(("__scratch__",))
            if self._map.containsKey(("__scratch__",)):
                raise AssertionError("removeKey left the entry behind")
            for etype, cnt in data["event_type"].value_counts().items():
                self._map.updateValue((str(etype),), (int(cnt),))
            b = (self._meta.get() or (0,))[0] + 1
            self._meta.update((int(b),))
            # t_exit taken AFTER the writes: every entry's TTL clock
            # started at or before it, so "next read ≥ t_exit + ttl"
            # conservatively implies "next read ≥ write + ttl"
            t_exit_ms = int(_time.time() * 1000)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "batch_no": [int(b)],
                    "n_prior": [n_prior],
                    "t_entry_ms": [t_entry_ms],
                    "t_exit_ms": [t_exit_ms],
                }
            )

        def close(self):
            pass

    return TtlProbe()


_TTL_PROBE_OUTPUT = (
    "user_id LONG, batch_no LONG, n_prior LONG, t_entry_ms LONG, t_exit_ms LONG"
)


def test_tws_mapstate_ttl_expiry(spark, tmp_path):
    """TTL-bounded TWS state (Spark 4 ``ttlDurationMs``, legal only under
    ``timeMode=ProcessingTime`` — EventTime raises, measured in r7):
    entries written in batch 1 with a 1 s TTL must be GONE when batch 2
    reads the map ≥8 s later (processing-time trigger paces the
    batches — 8 s, not 3: a cold-start batch 1 under full-suite load
    measured >3 s twice in the r16 session, which let batch 2 start
    immediately and forced the designed skip below; the wider interval
    keeps the pacing honest under load); the control run below proves
    the same map RETAINS entries without a TTL, so the absence here is
    expiry, not a broken map."""
    import time
    import uuid

    feed = chunked_events_dir(SF_UNIT, n_chunks=2, sentinels=False)
    ev = read_stream_events(spark, feed)
    probes = ev.groupBy("user_id").transformWithStateInPandas(
        _ttl_probe(ttl_ms=1000),
        outputStructType=_TTL_PROBE_OUTPUT,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    name = "ttl_" + uuid.uuid4().hex[:8]
    with conf_guard(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            probes.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="8 seconds")
            .start()
        )
        try:
            deadline = time.time() + 90
            while time.time() < deadline:
                if q.exception() is not None:
                    raise q.exception()
                if (
                    spark.table(name).filter(F.col("batch_no") == 2).count()
                    > 0
                ):
                    break
                time.sleep(0.2)
            else:
                raise TimeoutError("second micro-batch never surfaced")
        finally:
            q.stop()
        q.awaitTermination()
    rows = spark.table(name).collect()
    second = [r for r in rows if r.batch_no == 2]
    assert second, "no batch-2 probes recorded"
    # Per-key elapsed-time gate (ADVICE r7): if a cold-start batch 1
    # overran the 8 s trigger interval, batch 2 can start immediately
    # and legitimately read unexpired entries — asserting expiry there
    # flakes on VM drift. Judge only keys whose batch-2 READ provably
    # happened ≥ ttl (+100 ms clock slack) after batch 1's last WRITE.
    wrote = {r.user_id: r.t_exit_ms for r in rows if r.batch_no == 1}
    judged = [
        r
        for r in second
        if r.user_id in wrote and r.t_entry_ms - wrote[r.user_id] >= 1000 + 100
    ]
    if not judged:
        pytest.skip(
            "batches ran back-to-back (batch-1 overran the trigger "
            "interval); the TTL window never elapsed for any key"
        )
    assert all(r.n_prior == 0 for r in judged), (
        f"TTL'd entries survived past expiry: "
        f"{[r for r in judged if r.n_prior != 0][:5]}"
    )


def test_tws_mapstate_no_ttl_retains(spark):
    """Control for test_tws_mapstate_ttl_expiry: the identical probe with
    NO TTL must see batch-1 entries in batch 2 — proving the TTL test's
    empty read measures expiry rather than a map that never persisted.
    NOTE: availableNow cannot run a ``timeMode=ProcessingTime`` query to
    completion — Spark keeps scheduling no-data micro-batches to advance
    processing time for the state machinery, so the trigger never
    declares the stream drained (measured: 885+ batches and counting).
    ``run_stream_drain`` stops it once the second feed file (file-source
    ``logOffset`` 1) has run."""
    from sparkstreamingstateful_spark.streaming.runner import run_stream_drain

    feed = chunked_events_dir(SF_UNIT, n_chunks=2, sentinels=False)
    ev = read_stream_events(spark, feed)
    probes = ev.groupBy("user_id").transformWithStateInPandas(
        _ttl_probe(ttl_ms=None),
        outputStructType=_TTL_PROBE_OUTPUT,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    res = run_stream_drain(
        probes, done=lambda end: end["logOffset"] >= 1, output_mode="update"
    )
    second = res.filter(F.col("batch_no") == 2).collect()
    assert second, "no batch-2 probes recorded"
    assert all(r.n_prior > 0 for r in second), (
        "un-TTL'd map entries vanished between batches"
    )


def test_foreach_writer_idempotent_promotion(tmp_path):
    """JsonlForeachWriter's exactly-once mechanics, no Spark needed:
    successful close promotes the per-(epoch, partition) file, a replay
    open() of the same (epoch, partition) is refused, and an errored
    close leaves no file a retry could double-count."""
    from sparkstreamingstateful_spark.streaming.queries import JsonlForeachWriter

    w = JsonlForeachWriter(str(tmp_path), ["a"])
    assert w.open(0, 1) is True
    w.process({"a": 1})
    w.close(None)
    final = tmp_path / "e00001-p00000.jsonl"
    assert final.read_text() == '{"a": 1}\n'
    assert w.open(0, 1) is False  # replay: already promoted → skip
    assert w.open(0, 2) is True  # new epoch: fresh file
    w.process({"a": 2})
    w.close(RuntimeError("task died"))
    assert not (tmp_path / "e00002-p00000.jsonl").exists()
    assert list(tmp_path.glob("*.tmp")) == []


def test_statestore_changefeed_and_snapshot(spark, tmp_path):
    """The state data source's two read modes beyond the plain snapshot
    used by scan_state_store: ``readChangeFeed`` replays per-batch state
    CHANGES (each event_id surfaces exactly once, as an update, in the
    batch that first saw it — a second appearance would mean dedup state
    was rewritten), and a plain read equals the union of changes."""
    import pyarrow.parquet as pq

    feed = chunked_events_dir(SF_UNIT, n_chunks=3, sentinels=False)
    ev = read_stream_events(spark, feed).select("event_id")
    ckpt = str(tmp_path / "ckpt")
    run_stream(
        ev.dropDuplicates(["event_id"]),
        checkpoint=ckpt,
        sink=lambda w: w.format("noop").start(),
    )
    n_ids = pq.read_table(os.path.join(SF_UNIT, "events.parquet"), columns=["event_id"]).num_rows
    feedr = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load()
    )
    rows = feedr.selectExpr(
        "key.event_id AS event_id", "change_type", "batch_id"
    ).collect()
    assert len(rows) == n_ids  # each id written exactly once, ever
    assert {r.change_type for r in rows} == {"update"}
    assert len({r.event_id for r in rows}) == n_ids
    assert len({r.batch_id for r in rows}) >= 2  # changes span micro-batches
    snap = spark.read.format("statestore").option("path", ckpt).load()
    assert snap.count() == n_ids  # final snapshot == union of all changes


def test_sink_dirs_self_heal_partial(spark, duck):
    """The _DONE completion contract on the r8 sinks: a sink dir WITHOUT
    the marker is a partial attempt — the key must wipe and rebuild it
    (foreach: garbage part-files from the failed attempt must not leak
    into the read-back; toTable: the catalog table must be dropped and
    recreated), and the rebuilt result must still match the oracle."""
    import shutil

    from sparkstreamingstateful_spark.streaming import queries as sq

    from .conftest import compare

    _, oracles = registry.collect()
    # foreach: fake a crashed attempt — data files present, no _DONE
    out = sq.foreach_sink_path(SF_UNIT)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with open(os.path.join(out, "e99999-p00000.jsonl"), "w") as f:
        f.write('{"win_start": "garbage from a dead attempt"}\n')
    compare(
        QUERIES["stream_sink_foreach"](spark, SF_UNIT),
        duck,
        oracles["stream_sink_foreach"],
        name="foreach_self_heal",
    )
    assert os.path.exists(os.path.join(out, "_DONE"))
    assert not os.path.exists(os.path.join(out, "e99999-p00000.jsonl"))
    # toTable: completed data dir whose marker vanished → full rebuild
    name, tout = sq.totable_sink_cache(SF_UNIT)
    QUERIES["stream_sink_to_table"](spark, SF_UNIT).count()  # ensure built
    os.remove(os.path.join(tout, "_DONE"))
    compare(
        QUERIES["stream_sink_to_table"](spark, SF_UNIT),
        duck,
        oracles["stream_sink_to_table"],
        name="totable_self_heal",
    )
    assert os.path.exists(os.path.join(tout, "_DONE"))
    assert spark.catalog.tableExists(name)


def test_tws_processing_time_timer(spark, tmp_path):
    """TWS PROCESSING-TIME timers (``timeMode=ProcessingTime`` +
    ``registerTimer(now + Δ)``): armed in the first micro-batch, the
    timer must fire once wall-clock passes the deadline — a later batch
    (forced by dropping a second file into the feed after the deadline)
    runs handleExpiredTimer and emits the fired marker. Wall-clock
    timers are inherently an R-check (VERDICT r6 item 3)."""
    import glob
    import shutil
    import time
    import uuid

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class PtTimer(StatefulProcessor):
        def init(self, handle):
            self._handle = handle
            self._armed = handle.getValueState("armed", "a BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            for _ in rows:
                pass
            if not self._armed.get():
                self._handle.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() + 1500
                )
                self._armed.update((1,))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            yield pd.DataFrame({"user_id": [key[0]], "fired": [1]})

        def close(self):
            pass

    src_feed = chunked_events_dir(SF_UNIT, n_chunks=2, sentinels=False)
    files = sorted(glob.glob(os.path.join(src_feed, "*.parquet")))
    feed = tmp_path / "ptfeed"
    feed.mkdir()
    shutil.copy2(files[0], feed / os.path.basename(files[0]))

    ev = read_stream_events(spark, str(feed))
    out = ev.groupBy("user_id").transformWithStateInPandas(
        PtTimer(),
        outputStructType="user_id LONG, fired LONG",
        outputMode="Update",
        timeMode="ProcessingTime",
    )
    name = "pttimer_" + uuid.uuid4().hex[:8]
    with conf_guard(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            time.sleep(2.5)  # let the 1.5 s timers pass their deadline
            shutil.copy2(files[1], feed / os.path.basename(files[1]))
            deadline = time.time() + 90
            while time.time() < deadline:
                if q.exception() is not None:
                    raise q.exception()
                if spark.table(name).filter(F.col("fired") == 1).count() > 0:
                    break
                time.sleep(0.2)
            else:
                raise TimeoutError("processing-time timer never fired")
        finally:
            q.stop()
        q.awaitTermination()
    fired = spark.table(name).filter(F.col("fired") == 1)
    assert fired.count() > 0
    # at most one firing per key: re-arming is gated on the armed flag
    assert fired.groupBy("user_id").count().filter(F.col("count") > 1).count() == 0


@pytest.mark.usefixtures("tmp_cache")
def test_tws_skew_stress(spark, tmp_path):
    """Hot-key stress for the NATIVE transformWithStateInPandas path
    (newly executable in r6): TWS pays a state-server round-trip per KEY
    per batch, so a hot key concentrates pandas work but NOT protocol
    cost — same correctness and sub-linear bound as the twin."""
    from sparkstreamingstateful_spark.streaming import stateful

    def updates(ev):
        return ev.groupBy("user_id").transformWithStateInPandas(
            stateful.RunningAgg(),
            outputStructType=stateful.RUNNING_AGG_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )

    _skew_stress(spark, tmp_path, updates, "transformWithStateInPandas")


def test_streaming_query_listener_lifecycle(spark):
    """StreamingQueryListener — the streaming half of the observability
    surface (the batch half is the observe_metrics key): session-level
    listener callbacks must fire for start/progress/termination with the
    owning query's id, and the progress events' numInputRows must sum to
    exactly the feed size — the metrics stream an operator alarms on in
    production. Listener delivery is ASYNC (a separate delivery thread),
    so the assertions poll with a deadline rather than assuming the
    events landed by awaitTermination."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from sparkstreamingstateful_spark.streaming import runner

    seen = {"started": [], "progress": [], "terminated": []}

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            seen["started"].append(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            seen["progress"].append((str(p.id), p.numInputRows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            seen["terminated"].append(str(event.id))

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        feed = chunked_events_dir(SF_UNIT, sentinels=False)
        run_stream(
            read_stream_events(spark, feed)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n")),
            output_mode="complete",
        )
        qid = str(runner.LAST_QUERY_PROGRESS[0]["id"])
        deadline = time.time() + 20
        while time.time() < deadline and qid not in seen["terminated"]:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    assert qid in seen["started"], (qid, seen["started"])
    assert qid in seen["terminated"], (qid, seen["terminated"])
    n_feed = load_table(spark, SF_UNIT, "events").count()
    n_in = sum(n for pid, n in seen["progress"] if pid == qid)
    assert n_in == n_feed, (n_in, n_feed)


def test_changefeed_batch_attribution():
    """scan_state_changefeed's oracle predicts each key's batch_id from
    the i*n//K chunk boundaries of its pinned cut (queries._STATE_K)
    applied to event_id DIRECTLY — valid only while events.parquet's
    physical row order is event_id 0..n-1 (the feeder slices rows
    positionally). Pin that assumption so a testdata
    regeneration that reorders rows fails here loudly instead of as an
    opaque driver hash mismatch."""
    import pyarrow.parquet as pq

    eid = (
        pq.read_table(
            os.path.join(SF_UNIT, "events.parquet"), columns=["event_id"]
        )
        .column("event_id")
        .to_pylist()
    )
    assert eid == list(range(len(eid)))


def test_join_side_watermarked_evicts(spark, tmp_path):
    """The watermarked twin of scan_state_join_side's setup: WITH
    watermarks + a time-bound condition, the join's buffered state after
    completion must be a small suffix of each side, not the full history
    (eviction timing is watermark-internal, so the registered key pins
    reader fidelity on the unwatermarked join whose state IS the full
    history; this pins that the eviction path the audit exists for
    actually runs)."""
    from sparkstreamingstateful_spark.streaming.queries import (
        _interval_join,
        _statestore_read,
    )

    feed = chunked_events_dir(SF_UNIT, sentinels=False)
    j = _interval_join(read_stream_events(spark, feed), "inner")
    ckpt = str(tmp_path / "wm_join_ck")
    run_stream(j, checkpoint=ckpt, sink=lambda w: w.format("noop").start())
    n_p = (
        load_table(spark, SF_UNIT, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    left_state = _statestore_read(
        spark, ckpt, lambda st: st.select("key"), joinSide="left"
    ).count()
    assert left_state < n_p * 0.25, (
        f"watermark never evicted join state: {left_state} of {n_p} "
        "purchases still buffered"
    )


def test_session_window_exact_gap_boundary(spark):
    """r9: Spark's session_window MERGES an event arriving exactly at
    gap-expiry (diff == gap extends the session; only diff > gap
    splits) — batch and streaming, fixed and dynamic gap. ST3's r6
    oracle used >=-splits and was green only because µs timestamps never
    produce an exact 30:00.000000 gap; pin the real boundary so the
    corrected oracles can't regress."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, "view"),
        (1, base + dt.timedelta(seconds=600), "view"),  # == gap: merge
        (2, base, "view"),
        (2, base + dt.timedelta(seconds=601), "view"),  # > gap: split
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    for gap in ("10 minutes", F.when(F.col("event_type") == "x", F.lit("1 minutes")).otherwise(F.lit("10 minutes"))):
        out = (
            df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
        )
        got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
        assert got == {1: 1, 2: 2}, (gap, got)


def _evolution_processor(schema, write_two: bool):
    """Minimal ValueState counter for the schema-evolution pins: schema is
    either (n) or (n, extra); prior_extra reports whether the restarted
    run saw a non-NULL value for the ADDED field in pre-evolution state."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class Evo(StatefulProcessor):
        def init(self, handle):
            self._s = handle.getValueState("s", schema)

        def handleInputRows(self, key, rows, timerValues):
            cur = self._s.get()
            n = cur[0] if cur is not None else 0
            had = bool(
                cur is not None and write_two and len(cur) > 1 and cur[1] is not None
            )
            for pdf in rows:
                n += len(pdf)
            self._s.update((n, 0.5) if write_two else (n,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "prior_extra": [had]}
            )

        def close(self):
            pass

    return Evo()


def _run_evolution_query(spark, feed, ckpt, proc, collected, conf=None):
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("prior_extra", T.BooleanType()),
        ]
    )
    st = spark.readStream.schema("user_id long, v double").parquet(feed)
    out = st.groupBy("user_id").transformWithStateInPandas(
        proc, outputStructType=out_schema, outputMode="Update", timeMode="None"
    )
    run_stream(
        out,
        output_mode="update",
        state_partitions=2,
        checkpoint=ckpt,
        conf=conf,
        sink=lambda w: w.foreachBatch(
            lambda df, bid: collected.extend(df.collect())
        ).start(),
    )


def _evolution_fixture(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    t = pa.table(
        {
            "user_id": pa.array([1, 2, 3, 1, 2], pa.int64()),
            "v": pa.array([1.0] * 5, pa.float64()),
        }
    )
    pq.write_table(t, os.path.join(feed, "0000.parquet"))
    return feed, t, str(tmp_path / "ckpt")


def test_tws_state_schema_evolution_default_encoding_rejects(spark, tmp_path):
    """TWS state schema evolution, half 1 (measured r10): under the
    DEFAULT UnsafeRow state encoding, restarting a checkpoint with an
    ADDED ValueState field fails LOUDLY with
    STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE — never silent corruption.
    (The error's own suggestion, stateSchemaCheck=false, is the unsafe
    override; the supported path is the avro encoding pinned in the
    sibling test.)"""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    feed, t, ckpt = _evolution_fixture(tmp_path)
    s1 = T.StructType([T.StructField("n", T.LongType())])
    s2 = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("extra", T.DoubleType())]
    )
    got: list = []
    _run_evolution_query(spark, feed, ckpt, _evolution_processor(s1, False), got)
    pq.write_table(t, os.path.join(feed, "0001.parquet"))
    with pytest.raises(Exception, match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        _run_evolution_query(spark, feed, ckpt, _evolution_processor(s2, True), got)


def test_tws_state_schema_evolution_avro_accepts(spark, tmp_path):
    """TWS state schema evolution, half 2 (measured r10): with
    spark.sql.streaming.stateStore.encodingFormat=avro the SAME restart
    is ACCEPTED — pre-evolution counts carry across the checkpoint
    (avro default-fills the added field, read back as NULL), so a
    production deploy can widen its state record without replaying the
    stream. Conf must be set before BOTH runs: the encoding is a
    checkpoint property, not a per-run choice."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    feed, t, ckpt = _evolution_fixture(tmp_path)
    s1 = T.StructType([T.StructField("n", T.LongType())])
    s2 = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("extra", T.DoubleType())]
    )
    got: list = []
    avro = {"spark.sql.streaming.stateStore.encodingFormat": "avro"}
    _run_evolution_query(spark, feed, ckpt, _evolution_processor(s1, False), got, avro)
    got.clear()
    pq.write_table(t, os.path.join(feed, "0001.parquet"))
    _run_evolution_query(spark, feed, ckpt, _evolution_processor(s2, True), got, avro)
    by_user = {r.user_id: r for r in got}
    # counts continue from the pre-evolution checkpoint: 2+2, 2+2, 1+1
    assert {u: r.n for u, r in by_user.items()} == {1: 4, 2: 4, 3: 2}
    # the added field default-fills as NULL in pre-evolution records
    assert all(r.prior_extra is False for r in by_user.values())


def test_merge_epoch_replay_idempotent(spark, tmp_path):
    """stream_merge_to_table's foreachBatch contract: a REPLAYED epoch
    (already in _COMMITTED) must be a wholesale no-op — no new version
    dir, no duplicate log line, no double-counted n_changes — and the
    merged table is latest-wins with summed change counts."""
    import datetime as dt

    from sparkstreamingstateful_spark.streaming.queries import (
        _MERGE_TABLE_SCHEMA,
        _merge_committed_epochs,
        merge_epoch,
    )

    root = str(tmp_path / "merge_root")
    os.makedirs(root)
    ts = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    b0 = spark.createDataFrame(
        [(1, ts(0), 100, "view", 1.0), (1, ts(5), 101, "click", 2.0),
         (2, ts(1), 102, "view", 3.0)],
        "user_id long, ts timestamp, event_id long, event_type string, value double",
    )
    b1 = spark.createDataFrame(
        [(1, ts(9), 103, "purchase", 4.0), (3, ts(2), 104, "error", 5.0)],
        "user_id long, ts timestamp, event_id long, event_type string, value double",
    )
    merge_epoch(root, b0, 0)
    merge_epoch(root, b1, 1)
    assert _merge_committed_epochs(root) == [0, 1]
    before = sorted(os.listdir(root))

    # replay epoch 0 — must not touch anything
    merge_epoch(root, b0, 0)
    assert _merge_committed_epochs(root) == [0, 1]
    assert sorted(os.listdir(root)) == before

    final = {
        r.user_id: (r.last_eid, r.last_type, r.n_changes)
        for r in spark.read.schema(_MERGE_TABLE_SCHEMA)
        .parquet(os.path.join(root, "v00001"))
        .collect()
    }
    assert final == {
        1: (103, "purchase", 3),  # 2 changes in epoch 0 + 1 in epoch 1
        2: (102, "view", 1),
        3: (104, "error", 1),  # tombstone kept in TABLE, dropped at read
    }


def test_state_metadata_lists_tws_variables(spark):
    """S7e×S7f: the state-metadata source's operatorProperties JSON on a
    transformWithStateInPandas checkpoint must inventory every named
    state variable with its type — the discovery handshake an on-call
    performs before picking stateVarName (the S7e KEY pins the dedupe
    operator's metadata row; the TWS variable inventory is pinned here
    because its JSON carries a nested array the driver canonicalizer
    can't hash)."""
    import json as _json

    from sparkstreamingstateful_spark.streaming.queries import (
        _sessionize_tws_ckpt,
    )

    ckpt = _sessionize_tws_ckpt(spark, SF_UNIT)
    lag = "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    with conf_guard(spark, {lag: "false"}):
        row = (
            spark.read.format("state-metadata").load(ckpt)
            .collect()[0]
        )
    assert row.operatorName == "transformWithStateInPandasExec"
    props = _json.loads(row.operatorProperties)
    assert props["timeMode"] == "EventTime"
    assert props["outputMode"] == "Append"
    variables = {
        v["stateName"]: v["stateVariableType"] for v in props["stateVariables"]
    }
    assert variables["sess"] == "ValueState"
    assert variables["closed_starts"] == "ListState"
    # the event-time timer register surfaces as its own TimerState slot
    assert any(t == "TimerState" for t in variables.values())


def test_tws_map_and_timer_readers(spark):
    """S7g×S7h over the never-snapshot profile checkpoint: the flattened
    MapState read equals the batch per-(user, type) GROUP BY, the
    unflattened '*' rows cross-check size/total, and the registered-timer
    set is fully deterministic — exactly one timer per user (sentinel
    included pre-filter) at the fixed never-expire deadline."""
    from sparkstreamingstateful_spark.streaming.queries import (
        _profile_never_ms,
        _profile_tws_ckpt,
    )

    got = QUERIES["scan_state_tws_map"](spark, SF_UNIT).collect()
    exp = {
        (r.user_id, r.event_type): (r.n, r.sum_value)
        for r in load_table(spark, SF_UNIT, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    flat = {(r.user_id, r.event_type): (r.n, r.sum_value)
            for r in got if r.event_type != "*"}
    assert flat == exp
    star = {r.user_id: (r.n, r.sum_value) for r in got if r.event_type == "*"}
    users = {u for u, _ in exp}
    assert set(star) == users
    for u, (n_types, total) in star.items():
        assert n_types == sum(1 for (uu, _) in exp if uu == u)
        assert abs(total - sum(s for (uu, _), (_, s) in exp.items() if uu == u)) < 0.05

    timers = QUERIES["scan_state_tws_timers"](spark, SF_UNIT).collect()
    assert {r.user_id for r in timers} == users  # one per real user
    assert len(timers) == len(users)  # ...and exactly one each
    deadline = _profile_never_ms(SF_UNIT)
    assert {r.expires_ms for r in timers} == {deadline}

    # the sentinel's map/timer ARE state — present pre-filter
    ckpt = _profile_tws_ckpt(spark, SF_UNIT)
    lag = "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    with conf_guard(spark, {lag: "false"}):
        raw = (
            spark.read.format("statestore").option("path", ckpt)
            .option("readRegisteredTimers", "true").load()
            .select("key.user_id").collect()
        )
    assert {r.user_id for r in raw} == users | {-1}


def test_profile_never_ms_matches_duckdb_epoch_ms():
    """The S7h oracle's deadline arithmetic: Python's integer µs→ms
    floor (_profile_never_ms) must equal DuckDB's epoch_ms(max(ts)) +
    offset — the exact pairing the H-check's hash depends on (a
    total_seconds()*1000 float path can mis-round the last ms)."""
    import duckdb

    from sparkstreamingstateful_spark.streaming.queries import (
        _NEVER_FINALIZE_OFFSET_MS,
        _profile_never_ms,
    )

    con = duckdb.connect()
    (oracle_ms,) = con.execute(
        f"SELECT CAST(epoch_ms(max(ts)) AS BIGINT) + {_NEVER_FINALIZE_OFFSET_MS} "
        f"FROM read_parquet('{SF_UNIT}/events.parquet')"
    ).fetchone()
    assert _profile_never_ms(SF_UNIT) == oracle_ms


def test_state_metadata_lists_profile_map_and_timers(spark):
    """S7e×S7g/S7h: the never-snapshot profile checkpoint's
    state-metadata must inventory the MapState variable and the timer
    slot the two readers address — the discovery handshake for
    stateVarName='profile' / readRegisteredTimers, same pin as the
    sessionize-checkpoint twin above."""
    import json as _json

    from sparkstreamingstateful_spark.streaming.queries import (
        _profile_tws_ckpt,
    )

    ckpt = _profile_tws_ckpt(spark, SF_UNIT)
    lag = "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    with conf_guard(spark, {lag: "false"}):
        row = (
            spark.read.format("state-metadata").load(ckpt)
            .collect()[0]
        )
    assert row.operatorName == "transformWithStateInPandasExec"
    props = _json.loads(row.operatorProperties)
    assert props["timeMode"] == "EventTime"
    variables = {
        v["stateName"]: v["stateVariableType"] for v in props["stateVariables"]
    }
    assert variables["profile"] == "MapState"
    assert not any(v.get("ttlEnabled") for v in props["stateVariables"])
    assert any(t == "TimerState" for t in variables.values())


def test_tws_map_rounding_margins_have_ulp_headroom():
    """VERDICT r17 item 3: scan_state_tws_map's hash contract is
    round(sum, 2) over ORDER-OF-ACCUMULATION doubles — the TWS state
    accumulates per-batch pandas partials while DuckDB sums in scan
    order, so the two raw sums can differ by ~1 ulp. The contract is
    safe iff no per-(user, type) and no per-user raw sum sits within
    fp-accumulation error of a round-to-2dp DECISION boundary (the odd
    multiples of 0.005; even multiples are interior — 2dp-generated
    data lands ~1e-13 from multiples of 0.01 by construction, which is
    fine). This computes the correctly-rounded true sum (math.fsum)
    for every group at all three shipped SFs and asserts its exact
    distance (Fraction arithmetic) from the nearest odd multiple of
    0.005 exceeds 1e-9 — above the worst-case reordering error bound
    (n · Σ|v| · 2⁻⁵² ≈ 5e-10 for the largest per-user group at sf0.1),
    so any accumulation order rounds identically. Same discipline as
    test_profile_never_ms_matches_duckdb_epoch_ms pins the µs→ms floor.
    If a margin ever comes back tight on regenerated data, re-spell the
    key in 1e-2 fixed point at its next evidence-window slot."""
    from fractions import Fraction
    from math import fsum

    import pyarrow.parquet as pq

    def margin(total: float) -> Fraction:
        # exact distance of `total` to the nearest odd multiple of 1/200
        q = Fraction(total) * 200
        n = round(q)
        cands = [n] if n % 2 else [n - 1, n + 1]
        return min(abs(q - c) for c in cands) / 200

    eps = Fraction(1, 10**9)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        df = pq.read_table(
            f"/root/testdata/{sf}/events.parquet",
            columns=["user_id", "event_type", "value"],
        ).to_pandas()
        sums = [
            fsum(g)
            for _, g in df.groupby(["user_id", "event_type"])["value"]
        ] + [fsum(g) for _, g in df.groupby("user_id")["value"]]
        tight = [s for s in sums if margin(s) <= eps]
        assert not tight, (
            f"{sf}: {len(tight)} raw state sums within 1e-9 of a 0.005 "
            f"rounding boundary (e.g. {tight[:3]}) — the round(…,2) hash "
            "contract has no ulp headroom; re-spell scan_state_tws_map in "
            "fixed point"
        )
