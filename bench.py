"""Benchmark runner — per-query wall-clock at $SPARK_GRAFT_SF_DIR.

Prints THREE JSON lines (VERDICT r14 item 2; r18 item 2 added the middle
one — additions only, the summary line stays LAST):
    {"queries": {key: sec, ...}, ..., "metric": "suite_wall_clock",
     "value": <total sec>, "unit": "sec", "sf": <dir>}        # full
    {"top_movers": true, "n_common": N,
     "movers": {key: [prev_s, now_s], ...}}                    # <1 KB
    {"metric": "suite_wall_clock", "value": <total sec>, "unit": "sec",
     "n_keys": N, "n_errors": E, "sf": <dir>}                  # short
The short line is last so it survives the driver's 2000-char stdout
tail capture intact and machine-parses even when the full line (~10 KB)
is truncated at the front; top_movers sits immediately above it so the
10 largest per-key deltas vs the previous committed bench_full.json
also land inside the tail (omitted when the two ran on different core
counts).

Protocol (BASELINE.md): local[$SPARK_GRAFT_CPUS], AQE on, one warm-up of the
flagship and one untimed run of each WARM_FIRST key (its cached fixture
is setup), then one timed run per registered query (action = noop-format
write: full physical plan executes, no rows cross Py4J — see
measure_key()).

Each key's layers land in bench_layers.json next to bench_full.json, one
flat record per key built from Spark's own signals by perfbench.parsers:
``wall_s``, ``engine.*`` (jobs, stages, tasks, executor run/CPU/GC time,
shuffle, spill, Python bytes, driver gap) from the event log, whose jobs
carry the key as their tag, and for a key that ran a stream its
``runner.*``/``state.*`` numbers and per-batch ``trigger_ms`` from
StreamingQueryProgress. scripts/key_probe.py and scripts/scale_probe.py
measure through the same functions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# Python WORKERS don't inherit the driver's sys.path surgery — they
# resolve pickled references via PYTHONPATH/cwd. Running bench from any
# cwd other than the repo root made every key that ships Python to
# workers (stateful fns, Python data sources, foreach sinks) fail with
# import errors inside the worker (measured: 10 keys from /tmp). Export
# before the session exists; local-mode workers inherit the env.
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else _REPO
)

from perfbench.parsers import (
    TAG_PROPERTY,
    engine_summary,
    parse_event_log,
    summarize_progress,
)
from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.session import get_spark
from sparkstreamingstateful_spark.streaming import runner
from sparkstreamingstateful_spark.streaming.queries import sink_cache_paths


@contextlib.contextmanager
def open_session(app_name: str):
    """The bench session, with Spark's event log written uncompressed into
    a temp dir that is deleted on exit, also when a key errors. Yields
    ``(spark, log_dir)``; stop the session before reading the log, so
    every event is on disk. The event-log confs are static, so they
    reach the JVM through PYSPARK_SUBMIT_ARGS before it starts, ahead of
    whatever submit args were already set (``--driver-memory`` etc.)."""
    log_dir = tempfile.mkdtemp(prefix="sss_eventlog_")
    try:
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            # one file: Spark 4 otherwise rolls it into events_<n> parts
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {k}={v}" for k, v in confs.items()]
            + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")]
        )
        spark = get_spark(app_name=app_name)
        spark.sparkContext.setLogLevel("ERROR")
        yield spark, log_dir
    finally:
        shutil.rmtree(log_dir)


# The keys whose first run at a dir builds a cached fixture (a
# catalog.fill_once layout, feed or state checkpoint) that outlives the
# run: the pyds feed, the fragmented lineitem layout, and the state
# checkpoints the scan_state_* keys read. That build is setup, not the
# key under test, so warm_up runs it before any clock starts. The state
# checkpoints stay out of sink_cache_paths: wiping them would put their
# build back into every timed run.
WARM_FIRST = frozenset({
    "scan_python_datasource",
    "stream_python_datasource",
    "maintenance_rebalance",
    "scan_state_store",
    "scan_state_changefeed",
    "scan_state_time_travel",
    "scan_state_join_side",
    "scan_state_metadata",
    "scan_state_tws_variables",
    "scan_state_tws_map",
    "scan_state_tws_timers",
})


def warm_up(spark, queries, sf_dir: str, keys) -> None:
    """Warm the JVM, codegen and parquet footer caches with the flagship,
    run each of ``keys`` that is in WARM_FIRST once, untimed, so its
    fixture exists at ``sf_dir``, then wipe the completion-marker-cached
    sink dirs (catalog.fill_once). Those exist for the correctness gate's
    repeated executions; a benchmark must never time the cached no-op
    re-read in their place (the exact weakness VERDICT r6 flagged on the
    jsonl sink), so every run — including runs 2 and 3 of the
    median-of-3 protocol — times the real sink. A wipe that fails stops
    the run."""
    queries["agg_hash_q1"](spark, sf_dir).collect()
    for key in sorted(WARM_FIRST.intersection(keys)):
        try:
            queries[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # its timed run records the error
            print(f"# warm-up error {key}: {exc}", file=sys.stderr)
    wipe_sink_caches(sf_dir)


def wipe_sink_caches(sf_dir: str) -> None:
    for p in sink_cache_paths(sf_dir):
        if os.path.exists(p):
            shutil.rmtree(p)


def measure_key(spark, tag: str, fn, sf_dir: str) -> tuple[float, list | None]:
    """Run one key under ``tag`` and time it. Returns its wall seconds and
    the ``StreamingQueryProgress`` list of the stream it ran, or None
    when it ran none; a key's error propagates.

    Every job the key runs carries ``tag`` (a local property, which
    micro-batch jobs inherit, and the job description), so the event log
    attributes them. The action is a noop-format write: it executes the
    complete physical plan (scan → shuffle → agg/join/sort) but moves no
    rows to Python. Py4J row transfer is driver-environment overhead,
    not engine work, and it added up to 15× run-to-run noise on large
    outputs (measured: join_multikey 5.9 s solo vs 98 s in a suite run,
    identical plan). The runner rebinds LAST_QUERY_PROGRESS
    for every stream, so an unchanged object means no stream ran here
    and a batch key never inherits the previous key's batches."""
    sc = spark.sparkContext
    sc.setLocalProperty(TAG_PROPERTY, tag)
    sc.setJobDescription(tag)
    before = runner.LAST_QUERY_PROGRESS
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall_s = round(time.perf_counter() - t0, 3)
    finally:
        sc.setLocalProperty(TAG_PROPERTY, None)
        sc.setJobDescription(None)
    progress = runner.LAST_QUERY_PROGRESS
    return wall_s, (progress if progress is not before else None)


def read_event_log(log_dir: str):
    """Every event of the (stopped) session's event log, decoded."""
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def layer_records(events, runs: dict) -> dict:
    """One flat record per tag of ``runs`` (``{tag: (wall_s, progress)}``):
    ``wall_s``, the ``engine.*`` numbers of the jobs ``events`` tagged
    with it, and for a tag that ran a stream its ``runner.*`` and
    ``state.*`` numbers plus the per-batch ``trigger_ms`` list."""
    engine = parse_event_log(events)
    out = {}
    for tag, (wall_s, progress) in runs.items():
        rec = {"wall_s": wall_s}
        if tag in engine:
            rec.update(engine_summary(engine[tag], wall_s))
        if progress is not None:
            rec.update(summarize_progress(progress))
        out[tag] = rec
    return out


def previous_table() -> dict:
    """The previous round's full bench line: the COMMITTED
    bench_full.json (``git show HEAD:``), so runs 2 and 3 of the
    median-of-3 protocol compare against the previous round, not against
    run 1's rewrite of the working-tree file. Falls back to the
    working-tree file outside a git checkout; {} when neither exists."""
    try:
        out = subprocess.run(
            ["git", "show", "HEAD:bench_full.json"],
            cwd=_REPO, capture_output=True, check=True, text=True,
        ).stdout
        return json.loads(out)
    except (OSError, subprocess.CalledProcessError, ValueError):
        pass
    try:
        with open(os.path.join(_REPO, "bench_full.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def top_movers(
    prev: dict, now: dict, k: int = 10, prev_cpus=None, cpus=None
) -> dict | None:
    """The <1 KB movers payload (VERDICT r18 item 2): the k largest
    absolute per-key deltas between two per-key timing tables, errored
    keys (negative timings) and unmoved keys (zero delta) excluded. None
    when no key moved (first run / previous table missing / nothing
    changed) or when the two tables ran on different core counts (a
    previous table that recorded no count counts as different): per-key
    times do not compare across core counts (SCALING_r19.json)."""
    if prev_cpus != cpus:
        return None
    common = [
        key for key, t in now.items() if t >= 0 and prev.get(key, -1.0) >= 0
    ]
    movers = sorted(
        (key for key in common if now[key] != prev[key]),
        key=lambda key: abs(now[key] - prev[key]),
        reverse=True,
    )[:k]
    if not movers:
        return None
    return {
        "top_movers": True,
        "n_common": len(common),
        "movers": {key: [prev[key], now[key]] for key in movers},
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries, _ = registry.collect()
    with open_session("sss-spark-bench") as (spark, log_dir):
        # Previous round's per-key table (for the top_movers line below),
        # read BEFORE this run overwrites bench_full.json, so the deltas
        # are the round-over-round per-query comparison (VERDICT r18
        # item 2).
        prev = previous_table()
        cpus = spark.sparkContext.defaultParallelism
        warm_up(spark, queries, sf_dir, queries)
        runs: dict[str, tuple[float, list | None]] = {}
        for key in sorted(queries):
            try:
                runs[key] = measure_key(spark, key, queries[key], sf_dir)
            except Exception as exc:  # record, don't abort the suite
                runs[key] = (-1.0, None)
                print(f"# bench error {key}: {exc}", file=sys.stderr)
        timings = {key: wall_s for key, (wall_s, _) in runs.items()}
        report(timings, prev, cpus, sf_dir)
        spark.stop()
        t0 = time.perf_counter()
        layers = layer_records(read_event_log(log_dir), runs)
        log_mb = sum(
            os.path.getsize(os.path.join(log_dir, n)) for n in os.listdir(log_dir)
        ) / 2**20
        print(f"# event log: {log_mb:.1f} MB parsed in "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    # Per-key layers next to bench_full.json: wall, engine.* from the
    # tagged jobs, and runner.*/state.* for the keys that ran a stream.
    with open(os.path.join(_REPO, "bench_layers.json"), "w") as f:
        json.dump(layers, f, indent=1, sort_keys=True)


def report(timings: dict, prev: dict, cpus: int, sf_dir: str) -> None:
    """Print the three stdout lines and persist bench_full.json."""
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Dict insertion order is deliberate: the driver's BENCH_r* capture
    # keeps only the last 2000 chars of stdout, so with ~290 per-key
    # timings the FRONT of the line is what gets truncated. "queries"
    # must come first and the suite-level fields last so metric/value/
    # unit/sf always land inside the captured tail (BENCH_r12/r13 were
    # parsed:null precisely because value sat at the front).
    payload = {
        "queries": timings,
        # core count the timings ran on: top_movers compares only tables
        # taken at the same count
        "cpus": cpus,
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf_dir,
    }
    print(json.dumps(payload))
    # Second, SHORT, self-contained summary line. The full line above is
    # ~10 KB with 290+ per-key timings; the driver stores only the last
    # 2000 chars of stdout, so the full line's captured tail is never
    # valid JSON on its own (BENCH r12-r14 all landed parsed:null). This
    # line is <200 bytes and is the LAST stdout line, so it always lands
    # whole inside any tail capture and parses standalone. "summary":
    # true leads so artifact tooling can select it deterministically
    # even from a capture that also holds the full line's tail fragment
    # (ADVICE r15). frozen96_s / per_key_s are the registry-size-
    # independent readings (VERDICT r15 item 3): the suite total grew
    # 3× with the key count, so the contract comparison against the
    # 96-key r1 BASELINE needs the frozen-subset total (same 96 keys,
    # scripts/baseline_r1_keys.json) and the per-key average
    # machine-readable, not buried in BASELINE.md prose.
    try:
        with open(os.path.join(_REPO, "scripts", "baseline_r1_keys.json")) as f:
            frozen = json.load(f)
        # An errored frozen key times as -1; clamping it to 0 would
        # silently DEFLATE the subset total and read as a speedup in
        # the exact contract comparison this field exists for (ADVICE
        # r16) — emit null instead so the comparison visibly breaks.
        if any(timings.get(k, 0.0) < 0 for k in frozen):
            print("# frozen96 subset has errored keys; emitting null",
                  file=sys.stderr)
            frozen96 = None
        else:
            frozen96 = round(sum(timings.get(k, 0.0) for k in frozen), 3)
    except Exception as exc:
        print(f"# frozen96 subset not computed: {exc}", file=sys.stderr)
        frozen96 = None
    # Compact per-query movers line (VERDICT r18 item 2): the 10 largest
    # absolute per-key deltas vs the committed bench_full.json, <1 KB, so
    # the driver's 2000-char stdout tail regains per-query visibility.
    # Additions-only — printed ABOVE the summary line, which stays LAST
    # (the machine-parse contract).
    try:
        movers_line = top_movers(
            prev.get("queries") or {}, timings,
            prev_cpus=prev.get("cpus"), cpus=cpus,
        )
        if movers_line is not None:
            print(json.dumps(movers_line))
    except Exception as exc:
        print(f"# top_movers not computed: {exc}", file=sys.stderr)
    n_ok = sum(1 for t in timings.values() if t >= 0)
    print(json.dumps({
        "summary": True,
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "n_keys": len(timings),
        "n_errors": len(timings) - n_ok,
        "frozen96_s": frozen96,
        "per_key_s": round(total / n_ok, 3) if n_ok else None,
        "sf": sf_dir,
    }))
    # The driver's BENCH_r* capture keeps only the stdout TAIL, which
    # truncates the alphabetically-early keys (agg_*, dedup_*, embed_*) —
    # persist the complete per-key table so the flagship numbers survive.
    try:
        with open(os.path.join(_REPO, "bench_full.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"# bench_full.json not written: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
