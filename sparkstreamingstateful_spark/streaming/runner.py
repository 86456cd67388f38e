"""Streaming-query runner: the one place a streaming DataFrame is started.

Every stream in the engine, and every test stream that needs no
wall-clock trigger or endless source, goes through :func:`run_stream`
(run to completion under ``availableNow``) or :func:`run_stream_drain`
(queries availableNow cannot finish, see its docstring). Both are thin
entry points over one private core that owns the no-data-batch guard,
the session-conf window (state partition count plus any extra confs,
restored afterwards), the checkpoint, the start, the wait and the
:data:`LAST_QUERY_PROGRESS` capture. The checkpoint is a caller's fixed
path, which the runner never touches, or a fresh temp dir, which the
runner removes once the query has stopped, whether the run succeeded or
failed: no sink reads it.

The default sink is an in-memory table, returned as a DataFrame — the
test/driver surface. Callers with a production sink pass ``sink``, a
callable that finishes the ``DataStreamWriter``: foreachBatch (parquet
top-k, MERGE), row-level foreach, noop (state-checkpoint setup), the
``sss_jsonl`` Python data source and ``toTable``. Recovery from a fixed
checkpoint is exercised in tests/test_streaming.py.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

from ..session import conf_guard

# Progress snapshots of the most recent stream (list of per-micro-batch
# progress dicts, driver-side metadata only — a few KB). Tests, perfbench
# and bench.py's per-key record read state-operator metrics from here (e.g.
# asserting dropDuplicatesWithinWatermark actually EVICTS state rows)
# without the queries having to thread a query handle through their
# return value.
LAST_QUERY_PROGRESS: list[dict] = []


def require_no_data_batches(spark) -> None:
    """The sentinel feeds (feeder.py) carry the far-future sentinel in
    their last data file, and that batch still filters and evicts against
    the previous watermark: only the no-data flush micro-batch after it
    applies the final watermark and evicts the remaining state. It is on
    by default, but pin it so a cluster-side override can't silently
    turn sentinel feeds into never-emitting streams.
    Explicit raise (not assert — stripped under python -O) and
    case-insensitive (Spark parses boolean confs case-insensitively).
    The runner core calls it before every start, so no stream in the
    engine runs without it."""
    no_data = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    if str(no_data).lower() != "true":
        raise RuntimeError(
            "single-sentinel feeds require "
            "spark.sql.streaming.noDataMicroBatches.enabled=true "
            f"(found {no_data!r}); see streaming/feeder.py"
        )


def _run(df, sink, wait, *, trigger, output_mode, state_partitions, checkpoint, conf):
    """Start ``df`` through ``sink`` and ``wait`` on it inside the conf
    window; always stop the query and keep its progress, so a failed
    run never leaves an earlier query's batches in LAST_QUERY_PROGRESS.
    A checkpoint the runner made itself is removed after the stop: no
    sink reads it, and a fixed ``checkpoint`` is never touched."""
    global LAST_QUERY_PROGRESS
    spark = df.sparkSession
    require_no_data_batches(spark)
    confs = {"spark.sql.shuffle.partitions": str(state_partitions), **(conf or {})}
    own = None if checkpoint else tempfile.mkdtemp(prefix="sss_ckpt_")
    try:
        with conf_guard(spark, confs):
            q = sink(
                df.writeStream.outputMode(output_mode)
                .option("checkpointLocation", checkpoint or own)
                .trigger(**trigger)
            )
            try:
                wait(q)
            finally:
                # a timeout/exception path must not leak a running query
                # (it would hold executor slots against every later query)
                q.stop()
                LAST_QUERY_PROGRESS = [dict(p) for p in q.recentProgress]
    finally:
        if own is not None:
            shutil.rmtree(own, ignore_errors=True)


def _memory_sink():
    name = "sss_mem_" + uuid.uuid4().hex[:12]
    return name, lambda w: w.format("memory").queryName(name).start()


def run_stream_drain(
    df: DataFrame,
    *,
    done,
    output_mode: str = "complete",
    state_partitions: int = 4,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Run a streaming DataFrame until ``done(end_offset)`` says the
    source is exhausted, then stop and return the memory table.

    Exists for queries availableNow cannot finish. A custom Python
    micro-batch source (``sources/pyds.ParquetDirStreamDataSource``):
    the availableNow trigger snapshots "latest" ONCE at start, but a
    Python source's ``latestOffset`` is also its rate limiter (it
    advances per call), so availableNow would consume exactly one
    micro-batch and declare victory (measured). A
    ``timeMode=ProcessingTime`` TWS query: Spark keeps scheduling
    no-data batches for it, so availableNow never declares it drained.
    Instead: continuous trigger + poll the committed end offset from
    query progress until the caller's predicate holds. ``done``
    receives the parsed ``endOffset`` dict of source 0 (a file source's
    is ``{"logOffset": n}``, n counting its batches from 0).
    """
    import ast
    import json
    import time

    def poll(q) -> None:
        deadline = time.monotonic() + timeout_s
        while True:
            if q.exception() is not None:
                raise q.exception()
            p = q.lastProgress
            if p:
                end = (p.get("sources") or [{}])[0].get("endOffset")
                if isinstance(end, str):
                    # Python-source offsets surface in progress as the
                    # dict's repr (single quotes), not JSON — measured
                    # "{'split': 1}". Accept both.
                    try:
                        end = json.loads(end)
                    except json.JSONDecodeError:
                        end = ast.literal_eval(end)
                if end is not None and done(end):
                    return
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"stream not drained after {timeout_s}s; last progress: {p}"
                )
            time.sleep(0.05)

    name, sink = _memory_sink()
    _run(
        df,
        sink,
        poll,
        trigger={"processingTime": "0 seconds"},
        output_mode=output_mode,
        state_partitions=state_partitions,
        checkpoint=None,
        conf=None,
    )
    return df.sparkSession.table(name)


def run_stream(
    df: DataFrame,
    *,
    output_mode: str = "append",
    state_partitions: int = 4,
    sink=None,
    checkpoint: str | None = None,
    conf: dict[str, str] | None = None,
) -> DataFrame | None:
    """Run a streaming DataFrame to completion under ``availableNow``.

    Returns the memory table, or None when ``sink`` is given: ``sink``
    finishes the ``DataStreamWriter`` and returns the started query
    (``lambda w: w.foreachBatch(f).start()``, ``lambda w:
    w.toTable(name)``), and the caller reads its own output back.
    ``checkpoint`` is a fixed checkpoint path (default: a fresh temp
    dir, removed after the run); ``conf`` holds extra session confs for
    the run, restored afterwards like the partition count.

    ``state_partitions`` caps the stateful-operator partition count for
    this query (picked up from the session conf at query start and then
    pinned in the checkpoint). Stateful micro-batches pay a
    Python-worker/state-store round-trip per partition per batch, so the
    right count tracks rows-per-batch: small feeds want few, fuller
    partitions (fixed cost dominates), large feeds want more (real work
    dominates) — registered queries size it via ``queries._parts`` (r4
    sweep in its docstring). A production deployment with real key
    cardinality would pin O(cores) once for the checkpoint's lifetime.
    """
    name = None
    if sink is None:
        name, sink = _memory_sink()
    _run(
        df,
        sink,
        lambda q: q.awaitTermination(),
        trigger={"availableNow": True},
        output_mode=output_mode,
        state_partitions=state_partitions,
        checkpoint=checkpoint,
        conf=conf,
    )
    return None if name is None else df.sparkSession.table(name)
