"""Write ``perfbench/fingerprints.json``: the expected output fingerprint
of every benchmark key, computed from the DuckDB oracle SQL registered
with the key, over the committed input tables.

    python3 perfbench/make_fingerprints.py

Run from the repository root.  No Spark session is started.
"""

from __future__ import annotations

import json
import os

import duckdb

from run import DATA_DIR, HERE, SF, WORKLOADS, fingerprint
from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.catalog import TABLE_NAMES, table_path
from tests.conftest import fetch_oracle


def main() -> None:
    _, oracles = registry.collect()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(DATA_DIR, t)}')"
        )
    keys = {}
    for key in sorted({k for ks in WORKLOADS.values() for k in ks}):
        cols, _, rows = fetch_oracle(con, oracles[key])
        keys[key] = {"rows": len(rows), "sha256": fingerprint(cols, rows)}
        print(key, len(rows), keys[key]["sha256"][:12])
    with open(os.path.join(HERE, "fingerprints.json"), "w") as f:
        json.dump({"sf": SF, "keys": keys}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
