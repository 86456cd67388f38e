"""Per-key A/B measurement probe for optimization work.

Runs individual registered keys N times each in one session through
bench.py's own session opener and per-key function (same warm-up, sink
wipe, noop write, job tag and layered record), so a candidate
optimization can be judged per-key without the ±35% suite-level VM
drift: run `--n 5`, compare medians, and trust only deltas that clear
the run-to-run spread printed alongside. The RESULT line carries each
run's bench_layers.json-shaped record (engine.*, and runner.*/state.*
for stream keys), so a moved key also shows which layer moved.

Also dumps `.explain("formatted")` per key when `--plan-dir` is given
(the OPTIMIZATION_r* before/after plan evidence).

Usage:
    python scripts/key_probe.py --sf /root/testdata/sf0.1 \
        --keys graph_triangle_count,dedup_near --n 5 \
        [--plan-dir plans/r18 --tag before]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (exports PYTHONPATH for the Python workers)
from sparkstreamingstateful_spark import registry  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keys", required=True)
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--tag", default="probe")
    args = ap.parse_args()

    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    queries, _ = registry.collect()
    for k in keys:
        if k not in queries:
            sys.exit(f"unknown key: {k}")

    out: dict[str, dict] = {}
    runs: dict[str, tuple[float, list | None]] = {}
    with bench.open_session("sss-key-probe") as (spark, log_dir):
        bench.warm_up(spark, queries, args.sf, keys)
        for k in keys:
            # Marker-cached sinks must re-run the real sink every time.
            for i in range(args.n):
                bench.wipe_sink_caches(args.sf)
                runs[f"{k}#{i}"] = bench.measure_key(
                    spark, f"{k}#{i}", queries[k], args.sf
                )
            times = [runs[f"{k}#{i}"][0] for i in range(args.n)]
            out[k] = {
                "runs": times,
                "median": round(statistics.median(times), 3),
                "min": min(times),
                "max": max(times),
            }
            print(json.dumps({k: out[k]}), flush=True)
            if args.plan_dir:
                os.makedirs(args.plan_dir, exist_ok=True)
                df = queries[k](spark, args.sf)
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
                plan = df._jdf.queryExecution().explainString(mode)
                with open(
                    os.path.join(args.plan_dir, f"{k}_{args.tag}.txt"), "w"
                ) as f:
                    f.write(plan)
        spark.stop()
        layers = bench.layer_records(bench.read_event_log(log_dir), runs)
    for k in keys:
        out[k]["layers"] = [layers[f"{k}#{i}"] for i in range(args.n)]
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
