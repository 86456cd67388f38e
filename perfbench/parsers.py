"""Parsers for Spark's own run signals: the JSON event log and the
``StreamingQueryProgress`` dicts that ``streaming.runner`` keeps in
``LAST_QUERY_PROGRESS``.  Pure Python, no Spark session needed, so the
tests run them against small recorded fixtures.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

# Local property every job inherits from the thread that ran the key.
# Streaming micro-batch jobs overwrite ``spark.job.description`` with the
# query name, but inherit local properties set before the query started,
# so this tag survives where the description does not.
TAG_PROPERTY = "perfbench.tag"

PYTHON_ACCUMULABLES = (
    "data sent to Python workers",
    "data returned from Python workers",
)

ENGINE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes",
)


def _new_engine() -> dict:
    rec = {name: 0 for name in ENGINE_COUNTERS}
    rec["job_spans_ms"] = []
    rec["stage_task_ms"] = defaultdict(list)
    return rec


def job_tag(event: dict) -> str | None:
    """The benchmark tag of a ``SparkListenerJobStart``: our inherited
    property first, else the job description."""
    props = event.get("Properties") or {}
    return props.get(TAG_PROPERTY) or props.get("spark.job.description")


def parse_event_log(lines) -> dict[str, dict]:
    """Group an event log's jobs, stages and tasks by benchmark tag.

    ``lines`` yields JSON objects (already decoded).  Returns
    ``{tag: record}`` where each record holds the ``ENGINE_COUNTERS``
    totals, the job spans ``[(submit_ms, end_ms), ...]`` and the executor
    run time of every task, grouped by stage.
    """
    out: dict[str, dict] = {}
    stage_tag: dict[int, str] = {}
    job_tag_by_id: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    for ev in lines:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = job_tag(ev)
            if tag is None:
                continue
            rec = out.setdefault(tag, _new_engine())
            rec["jobs"] += 1
            job_tag_by_id[ev["Job ID"]] = tag
            job_submit[ev["Job ID"]] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_tag.setdefault(sid, tag)
        elif kind == "SparkListenerJobEnd":
            tag = job_tag_by_id.get(ev["Job ID"])
            if tag is not None:
                out[tag]["job_spans_ms"].append(
                    (job_submit[ev["Job ID"]], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageCompleted":
            tag = stage_tag.get(ev["Stage Info"]["Stage ID"])
            if tag is not None:
                out[tag]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev["Stage ID"])
            if tag is None:
                continue
            rec = out[tag]
            m = ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            rec["run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_ACCUMULABLES:
                    rec["python_bytes"] += int(acc.get("Update") or 0)
            rec["stage_task_ms"][ev["Stage ID"]].append(
                m.get("Executor Run Time", 0)
            )
    return out


def union_ms(spans) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(spans):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def task_skew(stage_task_ms: dict) -> float:
    """Max over median task run time, for the worst stage (1.0 when every
    stage is balanced or has a single task)."""
    worst = 1.0
    for times in stage_task_ms.values():
        med = statistics.median(times) if times else 0
        if len(times) > 1 and med > 0:
            worst = max(worst, max(times) / med)
    return worst


def engine_summary(rec: dict, wall_s: float) -> dict:
    """Flatten one tag's event-log record into ``engine.*`` numbers;
    ``driver_gap_s`` is the tag's wall time not covered by any job."""
    out = {f"engine.{k}": rec[k] for k in ENGINE_COUNTERS}
    out["engine.driver_gap_s"] = max(0.0, wall_s - union_ms(rec["job_spans_ms"]) / 1e3)
    out["engine.task_skew"] = task_skew(rec["stage_task_ms"])
    return out


RUNNER_DURATIONS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def summarize_progress(progress: list[dict]) -> dict:
    """Fold one query's progress list into ``runner.*`` and ``state.*``
    numbers plus the per-batch ``triggerExecution`` samples (ms)."""
    out = {
        "runner.batches": len(progress),
        "runner.input_rows": 0,
        "trigger_ms": [],
        **{f"runner.{d}_ms": 0 for d in RUNNER_DURATIONS},
        "state.commit_ms": 0,
        "state.updates_ms": 0,
        "state.removals_ms": 0,
        "state.rows_total": 0,
        "state.rows_updated": 0,
        "state.rocksdb_commit_ms": 0,
        "state.rocksdb_bytes_written": 0,
        "state.tws_calls": 0,
    }
    for p in progress:
        dur = p.get("durationMs") or {}
        out["trigger_ms"].append(dur.get("triggerExecution", 0))
        out["runner.input_rows"] += p.get("numInputRows") or 0
        for d in RUNNER_DURATIONS:
            out[f"runner.{d}_ms"] += dur.get(d, 0)
        for op in p.get("stateOperators") or []:
            out["state.commit_ms"] += op.get("commitTimeMs", 0)
            out["state.updates_ms"] += op.get("allUpdatesTimeMs", 0)
            out["state.removals_ms"] += op.get("allRemovalsTimeMs", 0)
            out["state.rows_updated"] += op.get("numRowsUpdated", 0)
            cm = op.get("customMetrics") or {}
            out["state.rocksdb_commit_ms"] += sum(
                v for k, v in cm.items()
                if k.startswith("rocksdbCommit") and "Latency" in k
            )
            out["state.rocksdb_bytes_written"] += cm.get("rocksdbTotalBytesWritten", 0)
            if str(op.get("operatorName", "")).startswith("transformWithState"):
                out["state.tws_calls"] += cm.get("rocksdbGetCount", 0) + cm.get(
                    "rocksdbPutCount", 0
                )
    # Rows held in state at the end of the query: the last batch's gauge.
    if progress:
        out["state.rows_total"] = sum(
            op.get("numRowsTotal", 0) for op in progress[-1].get("stateOperators") or []
        )
    return out
