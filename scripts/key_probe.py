"""Per-key A/B measurement probe for optimization work.

Times individual registered keys with the bench's exact methodology
(noop sink, same session factory) N times each in one session, so a
candidate optimization can be judged per-key without the ±35% suite-
level VM drift: run `--n 5`, compare medians, and trust only deltas
that clear the run-to-run spread printed alongside.

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
import shutil
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else _REPO
)

from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.session import get_spark
from sparkstreamingstateful_spark.streaming.queries import sink_cache_paths


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

    spark = get_spark(app_name="sss-key-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # Same warm-up as bench.py (JVM / codegen / parquet footers).
    queries["agg_hash_q1"](spark, args.sf).collect()

    # Keys whose sinks are completion-marker cached must re-run the real
    # sink every iteration, exactly as bench.py wipes them per suite run.
    out: dict[str, dict] = {}
    for k in keys:
        times = []
        for i in range(args.n):
            for p in sink_cache_paths(args.sf):
                if os.path.exists(p):
                    shutil.rmtree(p)
            spark.sparkContext.setJobDescription(f"probe:{k}#{i}")
            t0 = time.perf_counter()
            df = queries[k](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
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

    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
