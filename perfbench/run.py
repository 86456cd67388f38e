"""Closed-loop benchmark of the engine's registered keys.

    python3 perfbench/run.py --workload stream_stateful --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  One client runs a workload's keys one
after another (each key starts when the previous one has finished) on
``local[<cpus>]`` in this process.  A *pass* runs every key of the
workload once, in an order drawn from ``--seed``; every pass starts from
a fresh ``spark.newSession()``.  The action is ``bench.py``'s noop-format
write: the whole physical plan runs and no rows cross to Python.

The inputs are the committed sf0.01 tables under ``perfbench/data``.
Each run first makes an untimed *verify pass*: it collects every key's
output and compares its fingerprint with ``perfbench/fingerprints.json``
(made from the DuckDB oracle by ``make_fingerprints.py``).  A mismatch
or an error is a failed key run; any failure makes the exit code 1.

``--trace 0`` then starts timed passes until ``--seconds`` have gone by
and reports the end-to-end metrics: ``setup_s``, the wall time from
process start to the first timed pass, and ``pass_cpu_s``, the median
over the timed passes of the CPU seconds this process and all its
children (the JVM, the Python workers) spent in one pass.  The wall time
of a pass (``pass_s``) is printed on the summary line but is not bounded:
on a shared 4-vCPU host it followed the host's load, up to 2x for the
same code, and its spread over runs was about twice that of the CPU time.

``--trace 1`` turns Spark's event log on and runs three passes with
spans off, on and off, then one with spans on under ``local[1]``; it
reports the per-layer metrics (mapped to layers in
``perfbench/layers.json``) of the traced pass and writes every key's
record, the spans and their self times to ``.perfbench_out/``.

Micro-batch latency (``batch_ms_p50``/``p90``) is the
``durationMs.triggerExecution`` of every micro-batch of every streaming
key.  It is printed on the summary line of an untraced run and reported
as a per-layer metric by the traced run; a workload that runs no stream
reports 0 there.

Every run uses a private temporary directory inside the checkout, which
is removed at exit.  The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SF = "sf0.01"
DATA_DIR = os.path.join(HERE, "data", SF)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")
PACKAGE = "sparkstreamingstateful_spark"

WORKLOADS: dict[str, list[str]] = {
    # Window aggregation, watermarked dedup, TWS list state + timers, and
    # a read of a committed state store.
    "stream_stateful": [
        "stream_window_tumbling",
        "stream_dedup_watermarked",
        "stateful_sessionize_tws",
        "scan_state_store",
    ],
    # MinHash LSH, connected components and PQ training + ADC top-k.
    "llm_dedup": [
        "dedup_minhash_lsh",
        "dedup_cluster_cc",
        "embed_pq_adc_topk",
    ],
}

sys.path[:0] = [HERE, ROOT]

from parsers import (  # noqa: E402
    TAG_PROPERTY,
    engine_summary,
    parse_event_log,
    summarize_progress,
)
from spans import Tracer, patch_everywhere  # noqa: E402

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was started (by the kernel's clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _CLK_TCK


def _proc_tree(root_pid: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root_pid``
    and all its descendants."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        stats[pid] = fields
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    return sum(int(f[21]) * _PAGE for f in _proc_tree(root_pid))


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` and all its descendants."""
    return sum(sum(int(x) for x in f[11:15]) for f in _proc_tree(root_pid)) / _CLK_TCK


class RssSampler(threading.Thread):
    def __init__(self, interval_s: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval_s):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"n": len(values), "median": v, "q1": v, "q3": v}
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}


def percentile(values: list[float], p: int) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def fingerprint(cols: list[str], rows: list) -> str:
    """sha256 over the sorted column names and the oracle comparator's
    canonical rows (``tests.conftest.canonical_rows``)."""
    from tests.conftest import canonical_rows

    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in canonical_rows(cols, [tuple(r) for r in rows]):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def environment(args, cpus: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "sf": SF,
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
    }


class Bench:
    def __init__(self, args, units: dict[str, str]) -> None:
        self.args = args
        self.units = units
        self.keys = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.records: list[dict] = []
        self.current: dict | None = None
        self.counters: dict[str, dict[str, float]] = {}
        self.feed_paths: set[str] = set()
        self.queries: dict = {}
        with open(os.path.join(HERE, "fingerprints.json")) as f:
            self.expected = json.load(f)["keys"]

    # -- hooks ---------------------------------------------------------

    def _count(self, name: str, seconds: float, builds: int = 0) -> None:
        c = self.counters.setdefault(self.tracer.run, {})
        c[f"{name}.calls"] = c.get(f"{name}.calls", 0) + 1
        c[f"{name}.s"] = c.get(f"{name}.s", 0.0) + seconds
        c[f"{name}.builds"] = c.get(f"{name}.builds", 0) + builds

    def install_hooks(self) -> None:
        from sparkstreamingstateful_spark import catalog
        from sparkstreamingstateful_spark.streaming import feeder, runner

        def on_stream(result, wall_s):
            if self.current is not None:
                self.current["streams"].append(
                    {"wall_s": wall_s, "progress": list(runner.LAST_QUERY_PROGRESS)}
                )

        def on_feed(path, wall_s):
            paths = path if isinstance(path, tuple) else (path,)
            new = [p for p in paths if p not in self.feed_paths]
            self.feed_paths.update(paths)
            self._count("feeder", wall_s, builds=len(new))

        def on_load(_df, wall_s):
            self._count("catalog.load_table", wall_s)

        for fn in ("run_stream", "run_stream_drain"):
            wrapped = self.tracer.wrap(getattr(runner, fn), "runner", on_stream)
            patch_everywhere(runner, fn, wrapped)
        for fn in ("chunked_events_dir", "chunked_table_dir", "chunked_events_split_dirs"):
            wrapped = self.tracer.wrap(getattr(feeder, fn), "feeder", on_feed)
            patch_everywhere(feeder, fn, wrapped)
        wrapped = self.tracer.wrap(catalog.load_table, "catalog.load_table", on_load)
        patch_everywhere(catalog, "load_table", wrapped)

    # -- session -------------------------------------------------------

    def start_spark(self, cpus: int):
        from sparkstreamingstateful_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}", master=f"local[{cpus}]"
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def release(self) -> int:
        """Bytes of RDD storage the pass left behind; then drop it all."""
        sc = self.spark.sparkContext
        retained = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )
        self.spark.catalog.clearCache()
        for rdd in list(sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        gc.collect()
        sc._jvm.System.gc()
        return retained

    # -- passes --------------------------------------------------------

    def run_key(self, session, key: str, label: str, verify: bool) -> dict:
        tag = f"{self.args.workload}:{label}:{key}"
        sc = session.sparkContext
        sc.setLocalProperty(TAG_PROPERTY, tag)
        sc.setJobDescription(tag)
        rec = {"tag": tag, "key": key, "pass": label, "streams": [], "ok": True}
        self.current = rec
        fn = self.queries[key]
        t0 = time.perf_counter()
        try:
            with self.tracer.span("operators.build"):
                df = fn(session, DATA_DIR)
            t1 = time.perf_counter()
            with self.tracer.span("engine.action"):
                if verify:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec["build_s"], rec["action_s"] = t1 - t0, t2 - t1
            if verify:
                got = fingerprint(df.columns, rows)
                want = self.expected.get(key, {}).get("sha256")
                if got != want:
                    rec["ok"] = False
                    rec["error"] = f"fingerprint {got[:12]} != expected {str(want)[:12]} ({len(rows)} rows)"
        except Exception as exc:  # a failed key run is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            rec["traceback"] = traceback.format_exc()
        rec["wall_s"] = time.perf_counter() - t0
        self.current = None
        sc.setLocalProperty(TAG_PROPERTY, None)
        sc.setJobDescription(None)
        if not rec["ok"]:
            print(f"# {tag} failed: {rec['error']}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def run_pass(self, label: str, verify: bool = False) -> dict:
        from sparkstreamingstateful_spark.session import configure
        from sparkstreamingstateful_spark.streaming.queries import sink_cache_paths

        self.tracer.run = label
        # The verify pass also warms the JVM up; a fixed order makes that
        # warm-up the same for every seed.
        order = list(self.keys) if verify else self.rng.sample(self.keys, len(self.keys))
        # Completion-marker-cached sinks would turn a write key into a
        # cached re-read; wipe them so every pass times the real write.
        for path in sink_cache_paths(DATA_DIR):
            shutil.rmtree(path, ignore_errors=True)
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with self.tracer.span("session.new_session"):
            session = configure(self.spark.newSession())
        new_session_s = time.perf_counter() - t0
        recs = [self.run_key(session, key, label, verify) for key in order]
        pass_s = time.perf_counter() - t0
        cpu_s = tree_cpu_s(os.getpid()) - c0
        del session
        return {
            "label": label,
            "pass_s": pass_s,
            "cpu_s": cpu_s,
            "new_session_s": new_session_s,
            "order": order,
            "records": recs,
            "batch_ms": self.batch_samples_ms(recs),
            "retained_bytes": self.release(),
        }

    # -- metrics -------------------------------------------------------

    @staticmethod
    def batch_samples_ms(recs: list[dict]) -> list[float]:
        """``triggerExecution`` of every micro-batch the keys ran."""
        return [
            float(t)
            for r in recs
            for s in r["streams"]
            for t in summarize_progress(s["progress"])["trigger_ms"]
        ]

    def layer_metrics(self, p: dict, engine: dict[str, dict], setup: dict) -> dict:
        m: dict[str, float] = {
            "session.get_spark_s": setup["get_spark_s"],
            "registry.collect_s": setup["collect_s"],
            "session.new_session_s": p["new_session_s"],
            "engine.retained_bytes": p["retained_bytes"],
        }
        # The feeder builds its chunk dirs during set-up (the verify pass).
        for name in ("calls", "builds", "s"):
            m[f"feeder.{name}"] = sum(
                self.counters.get(run, {}).get(f"feeder.{name}", 0)
                for run in ("setup", "verify")
            )
        pc = self.counters.get(p["label"], {})
        m["catalog.load_table_calls"] = pc.get("catalog.load_table.calls", 0)
        m["catalog.load_table_s"] = pc.get("catalog.load_table.s", 0.0)
        sums: dict[str, float] = {}

        def add(k, v):
            sums[k] = sums.get(k, 0) + v

        skew = 1.0
        for r in p["records"]:
            add("operators.build_s", r.get("build_s", 0.0))
            add("engine.action_s", r.get("action_s", 0.0))
            rec = engine.get(r["tag"])
            if rec is not None:
                r["engine"] = engine_summary(rec, r["wall_s"])
                for k, v in r["engine"].items():
                    if k == "engine.task_skew":
                        skew = max(skew, v)
                    else:
                        add(k, v)
            for s in r["streams"]:
                sp = summarize_progress(s["progress"])
                add("runner.calls", 1)
                add("runner.s", s["wall_s"])
                add("runner.fixed_s", s["wall_s"] - sum(sp["trigger_ms"]) / 1e3)
                for k, v in sp.items():
                    if k != "trigger_ms":
                        add(k, v)
        for k in self.units:
            if k.split(".")[0] in ("operators", "engine", "runner", "state"):
                m.setdefault(k, sums.get(k, 0))
        m["engine.task_skew"] = skew
        # Self time per layer: each span's time minus its child spans'.
        totals = self.tracer.totals(p["label"])
        for span, name in (
            ("operators.build", "self.operators_s"),
            ("engine.action", "self.action_s"),
            ("runner", "self.runner_s"),
            ("feeder", "self.feeder_s"),
            ("catalog.load_table", "self.catalog_s"),
            ("session.new_session", "self.session_s"),
        ):
            m[name] = totals.get(span, {}).get("self_s", 0.0)
        return m


def read_event_logs(log_dir: str) -> dict[str, dict]:
    def lines():
        for dirpath, _, files in os.walk(log_dir):
            for name in sorted(files):
                if name.startswith("events_") or name.startswith("local-"):
                    with open(os.path.join(dirpath, name)) as f:
                        for line in f:
                            if line.strip():
                                yield json.loads(line)

    return parse_event_log(lines())


def isolate(args) -> str:
    """Private TMPDIR (and Spark local/warehouse dirs) inside the checkout;
    every repo cache, ``sss_feed_*`` and ``sss_ckpt_*`` dir lands here."""
    os.makedirs(TMP_BASE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_BASE)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # Python workers resolve the package through PYTHONPATH, not sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        os.makedirs(os.path.join(tmp, "eventlog"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"
    return tmp


def stop_spark() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, tmp: str, units: dict[str, str]) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    bench = Bench(args, units)
    # Peak RSS is a per-layer metric: sample it only in a traced run.
    sampler = RssSampler() if args.trace else None
    if sampler:
        sampler.start()
    bench.tracer.enabled = bool(args.trace)
    try:
        from sparkstreamingstateful_spark import registry

        t0 = time.perf_counter()
        with bench.tracer.span("registry.collect"):
            bench.queries = registry.collect()[0]
        setup = {"collect_s": time.perf_counter() - t0}
        bench.install_hooks()
        setup["get_spark_s"] = bench.start_spark(cpus)
        verify = bench.run_pass("verify", verify=True)
        setup_s = process_age_s()
        metrics: dict[str, dict] = {}
        passes: list[dict] = []
        if not args.trace:
            t_win = time.perf_counter()
            while not passes or time.perf_counter() - t_win < args.seconds:
                passes.append(bench.run_pass(f"p{len(passes) + 1}"))
            cpu_times = [p["cpu_s"] for p in passes]
            values = {
                "setup_s": (setup_s, "s"),
                "pass_cpu_s": (statistics.median(cpu_times), "s"),
            }
            detail = {
                "pass_s": quartiles([p["pass_s"] for p in passes]),
                "pass_cpu_s": quartiles(cpu_times),
                "retained_bytes": [p["retained_bytes"] for p in passes],
            }
            samples = [s for p in passes for s in p["batch_ms"]]
            if samples:
                detail["batch_ms"] = {
                    "n": len(samples),
                    "p50": percentile(samples, 50),
                    "p90": percentile(samples, 90),
                }
        else:
            # Untraced, traced, untraced: the passes still speed up as the
            # JVM warms, and averaging the two untraced passes cancels a
            # linear trend out of the tracing overhead.
            for label in ("untraced1", "traced", "untraced2"):
                bench.tracer.enabled = label == "traced"
                passes.append(bench.run_pass(label))
            bench.tracer.enabled = True
            # Single-core baseline: a new SparkContext on local[1] in the
            # same JVM, so only the core count differs.
            bench.tracer.run = "c1-setup"
            bench.spark.stop()
            bench.start_spark(1)
            passes.append(bench.run_pass("c1"))
            untraced1, traced, untraced2, c1 = passes
            engine = read_event_logs(os.path.join(tmp, "eventlog"))
            layer = bench.layer_metrics(traced, engine, setup)
            layer["trace.overhead_s"] = traced["pass_s"] - (
                untraced1["pass_s"] + untraced2["pass_s"]
            ) / 2
            layer["c1_over_cN"] = c1["pass_s"] / traced["pass_s"]
            layer["pass_s"] = (untraced1["pass_s"] + untraced2["pass_s"]) / 2
            layer["peak_rss_mb"] = sampler.peak / 2**20
            # Latency samples from the three local[N] passes.
            samples = [s for p in (untraced1, traced, untraced2) for s in p["batch_ms"]]
            layer["batch_ms_p50"] = percentile(samples, 50)
            layer["batch_ms_p90"] = percentile(samples, 90)
            values = {k: (v, units[k]) for k, v in layer.items()}
            detail = {
                "spans": bench.tracer.spans,
                "self_times": {p["label"]: bench.tracer.totals(p["label"]) for p in passes},
            }
        for name in units:
            if name in values:
                value, unit = values[name]
                metrics[name] = {"value": value, "unit": unit}
    finally:
        if sampler:
            sampler.stop()
    all_recs = bench.records
    failed = sum(1 for r in all_recs if not r["ok"])
    record = {
        "env": {**environment(args, cpus), "passes": len(passes)},
        "correct": failed == 0,
        "attempted": len(all_recs),
        "failed": failed,
        "fail_frac": failed / len(all_recs),
        "metrics": metrics,
        "detail": detail,
        "passes": [
            {k: v for k, v in p.items() if k != "records"} for p in [verify, *passes]
        ],
        "keys": all_recs,
    }
    return record, metrics


def load_units() -> dict[str, str]:
    """Metric name -> unit, in BENCHMARK.json's order."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import sparkstreamingstateful_spark.registry  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: input tables missing: {DATA_DIR}", file=sys.stderr)
        return 2
    units = load_units()
    tmp = isolate(args)
    try:
        record, metrics = run(args, tmp, units)
    finally:
        stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(TMP_BASE):
            os.rmdir(TMP_BASE)
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    spread = record["detail"]
    summary = " ".join(
        f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()
    )
    for name in ("pass_s", "pass_cpu_s"):
        if name in spread:
            q = spread[name]
            summary += f" {name}:median={q['median']:.6g},q1={q['q1']:.6g},q3={q['q3']:.6g},n={q['n']} s"
    if "batch_ms" in spread:
        b = spread["batch_ms"]
        summary += f" batch_ms_p50={b['p50']:.6g} ms batch_ms_p90={b['p90']:.6g} ms n={b['n']}"
    print(f"# {args.workload} cpus={record['env']['cpus']} sf={SF} "
          f"passes={record['env']['passes']} fail_frac={record['fail_frac']:.6g} ratio "
          f"{summary} record={os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
