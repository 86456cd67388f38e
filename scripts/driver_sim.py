"""Driver correctness-gate simulator (the /verify surface).

Mirrors the driver exactly: a PLAIN SparkSession (none of our configs — the
package must self-configure nanosAsLong/UTC at query time), then for every
key in ``__spark_entry__.queries()``: run the Spark query at the given
sf_dir and strict-compare against ``oracle_sql()[key]`` on a DuckDB
connection with the ten tables registered as views. The comparator is the
STRICT one from tests/conftest (full-precision floats, int≠float,
Decimal≠float, hard error on nested cells) AND the oracle side is fetched
via ``fetchdf()`` — the same pandas dtype-coercion path the real driver
uses (r2 proved a ``fetchall()`` mirror is blind to HUGEINT→float64).

Usage:
    python scripts/driver_sim.py [--sf /root/testdata/sf0.01] [--keys k1,k2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# workers resolve pickled refs via PYTHONPATH, not the driver's sys.path
# (see bench.py) — export so the sim works from any cwd
os.environ["PYTHONPATH"] = (
    REPO + os.pathsep + os.environ["PYTHONPATH"]
    if os.environ.get("PYTHONPATH")
    else REPO
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--keys", default="", help="comma-separated subset")
    ap.add_argument("--skip-entry", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from tests.conftest import (
        _duck_con,
        assert_engine_type_kinds,
        canonical_rows,
        fetch_oracle,
    )

    # Plain session on purpose: proves runtime self-configuration.
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("driver-sim")
        .getOrCreate()
    )

    import __spark_entry__ as e

    if not args.skip_entry:
        n = e.entry(spark).count()
        print(f"entry: {n} rows", flush=True)
        assert n > 0

    queries = e.queries()
    oracles = e.oracle_sql()
    subset = [k for k in args.keys.split(",") if k]
    keys = subset or list(queries)
    duck = _duck_con(args.sf)

    failures: list[str] = []
    t_total = time.time()
    for i, key in enumerate(keys):
        t0 = time.time()
        try:
            df = queries[key](spark, args.sf)
            s_rows = [tuple(r) for r in df.collect()]
            s_cols = list(df.columns)
            if key not in oracles:
                status = f"rows_only ({len(s_rows)} rows)"
            else:
                # fetchdf(), NOT fetchall(): the real driver fetches the
                # oracle through pandas, whose dtype coercions (HUGEINT→
                # float64 etc.) are part of what must be verified — r2's
                # 5 hash-FAILs were invisible to a fetchall() mirror.
                d_cols, d_types, d_rows = fetch_oracle(duck, oracles[key])
                assert_engine_type_kinds(df, d_cols, d_types, name=key)
                if sorted(s_cols) != sorted(d_cols):
                    status = f"SCHEMA MISMATCH spark={sorted(s_cols)} duck={sorted(d_cols)}"
                    failures.append(key)
                elif len(s_rows) != len(d_rows):
                    status = f"ROWCOUNT MISMATCH spark={len(s_rows)} duck={len(d_rows)}"
                    failures.append(key)
                else:
                    sc = canonical_rows(s_cols, s_rows)
                    dc = canonical_rows(d_cols, d_rows)
                    if sc != dc:
                        # multiset difference — a positional zip misreports
                        # shifted rows as mass mismatches
                        from collections import Counter

                        s_only = Counter(sc) - Counter(dc)
                        d_only = Counter(dc) - Counter(sc)
                        ndiff = sum(s_only.values())
                        diffs = [
                            f"\n    spark-only: {r}" for r in list(s_only)[:3]
                        ] + [f"\n    duck-only : {r}" for r in list(d_only)[:3]]
                        status = f"HASH MISMATCH ({ndiff} rows differ){''.join(diffs)}"
                        failures.append(key)
                    else:
                        status = f"ok ({len(s_rows)} rows)"
        except Exception:
            status = "ERROR\n" + traceback.format_exc()
            failures.append(key)
        print(f"[{i + 1}/{len(keys)}] {key}: {status} [{time.time() - t0:.1f}s]", flush=True)

    print(f"total: {time.time() - t_total:.1f}s, failures: {failures}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
