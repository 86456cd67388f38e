"""Shared pytest fixtures: one SparkSession per test run, a DuckDB oracle
connection per scale factor, and the canonicalizing compare helper that
mirrors the driver's t2 loop (row-count + schema-width + order-insensitive
value comparison; SURVEY.md §5.2.1)."""

from __future__ import annotations

import decimal
import math
import os
import sys
import tempfile

import duckdb
import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreamingstateful_spark.catalog import TABLE_NAMES, table_path
from sparkstreamingstateful_spark.session import get_spark

SF_UNIT = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[*] (32 threads here): this VM's scheduler degrades low-thread JVM
    # workloads badly (measured: local[4] 12-17s vs local[32] 0.5-1.5s for the
    # same 600k-row agg), so tests use full parallelism + AQE coalescing.
    s = get_spark(app_name="sss-spark-tests", master="local[*]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def tmp_cache(tmp_path, monkeypatch):
    """``tmp_path`` as the temp root for the test: every feed, sink dir and
    state checkpoint under ``catalog.cache_dir``, and the runner's temp
    checkpoints, are built there and go with it, instead of joining the
    content-keyed caches that later runs reuse."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    return _duck_con(SF_UNIT)


@pytest.fixture(scope="session")
def duck_t2():
    return _duck_con(SF_T2)


def canonical_cell(v, *, strict: bool = True) -> str:
    """One cell → canonical string (shared by both engines' outputs).

    STRICT by design (r1 lesson): the driver's canonicalizer distinguishes
    int from float (``7`` vs ``7.0``) and Decimal from float64, and it
    CRASHES on array/map/struct cells (pandas sort_values → "unhashable
    type: numpy.ndarray"). The local mirror must therefore be at least as
    strict: full-precision float repr, type-distinct Decimal marker, and a
    hard error on nested cells in H-checked outputs.

    r2 lesson: the driver fetches the ORACLE via ``fetchdf()`` (pandas),
    so oracle cells arrive as numpy scalars / pd.Timestamp with pandas'
    coercions applied (HUGEINT→float64, NULL-int→NaN, DATE→midnight
    Timestamp). This canonicalizer accepts both worlds and normalizes the
    pandas-implied equivalences (NaN ≡ NULL, date ≡ midnight timestamp)
    while keeping the int/float axis strict — that is exactly the axis
    the driver hash-failed 5 keys on in r2.
    """
    # np.ndarray must be caught HERE: it reaches the `v != v` NULL test
    # otherwise and raises "ambiguous truth value" instead of a clean
    # assertion (oracle LIST columns arrive as ndarray via fetchdf).
    if (
        isinstance(v, (list, tuple, dict, np.ndarray))
        or hasattr(v, "asDict")
    ):
        if strict:
            raise AssertionError(
                f"nested cell {type(v).__name__} in H-checked output — the "
                "driver canonicalizer crashes on these; serialize to string "
                f"in the final projection: {v!r}"
            )
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(canonical_cell(x, strict=False) for x in v) + "]"
        d = v if isinstance(v, dict) else v.asDict()
        return (
            "{"
            + ",".join(f"{k}:{canonical_cell(x, strict=False)}" for k, x in sorted(d.items()))
            + "}"
        )
    if v is None or v != v:  # None, float NaN, np.nan, pd.NaT (all non-self-equal)
        # r2 lesson: the driver's fetchdf() path renders oracle NULL ints
        # as NaN while Spark collect() gives None — the pandas-implied
        # equivalence NaN ≡ NULL is therefore part of the driver contract.
        return "␀"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v == 0.0:
            v = 0.0  # -0.0 → 0.0
        return repr(v)  # full precision; distinguishes 7.0 from int 7
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"  # never matches a float — decimals must not leak
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):  # datetime / pd.Timestamp / date
        if hasattr(v, "hour"):
            return v.isoformat(sep=" ")
        # pure date: fetchdf renders DATE as a midnight Timestamp, so a
        # date canonicalizes to the same string (the kind-check still
        # enforces date↔DATE pairing at the schema level).
        return v.isoformat() + " 00:00:00"
    return str(v)


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    """Columns sorted by name, rows rendered and sorted — order-insensitive,
    mirroring the driver's value-hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canonical_cell(r[i]) for i in order) for r in rows)


# Types the driver's canonicalizer can sort/hash. Arrays, maps, structs
# crash it ("unhashable type: numpy.ndarray", r1); DecimalType hashes
# differently from float64 (r1 scalar_cast FAIL). Every H-checked query's
# final projection must stay inside this set — serialize anything nested
# to a string first. (Spark simpleString() spellings.)
DRIVER_SAFE_TYPES = (
    "bigint",
    "int",
    "smallint",
    "tinyint",
    "double",
    "float",
    "string",
    "boolean",
    "date",
    "timestamp",
    "timestamp_ntz",
    "binary",
)


# Type KINDS for the cross-engine schema check. The driver compares the
# Spark result against the oracle fetched via fetchdf(), and pandas'
# dtype coercion makes some DuckDB types hash-hostile no matter what the
# values are: HUGEINT (any uncast integer sum), DECIMAL, and HUGEINT-based
# `//` / `%` arithmetic all become float64 while Spark emits int64 — the
# exact root cause of all 5 r2 hash-FAILs. Mapping a DuckDB result type to
# None below is therefore a hard error: the oracle must CAST.
_SPARK_KIND = {
    "bigint": "int",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "float",
    "float": "float",
    "string": "str",
    "boolean": "bool",
    "date": "date",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
    "binary": "bytes",
}


def _duck_kind(t: str) -> str | None:
    t = t.upper()
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "BLOB":
        return "bytes"
    return None  # HUGEINT, DECIMAL(...), unsigned, LIST, STRUCT, MAP, ...


def fetch_oracle(duck_con, sql: str):
    """Run oracle SQL the way the DRIVER does: bind the relation (types
    available pre-execution), then fetch through ``fetchdf()`` so every
    pandas dtype coercion the driver will apply is applied here too.
    Returns (cols, duck_type_strings, rows-as-tuples-of-pandas-scalars)."""
    rel = duck_con.sql(sql)
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    df = rel.fetchdf()
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    return cols, types, rows


def assert_engine_type_kinds(spark_df, d_cols, d_types, *, name: str = "?") -> None:
    """Cross-engine schema-kind lint: for every shared column name, the
    Spark type and the DuckDB ORACLE type must map to the same kind, and
    the DuckDB type must be fetchdf-stable (no HUGEINT/DECIMAL/nested).
    This catches the whole r2 failure class (uncast integer ``sum()``,
    HUGEINT ``//``/``%``, quantile DECIMALs) structurally, before any
    value comparison."""
    s_types = {f.name: f.dataType.simpleString() for f in spark_df.schema.fields}
    errs = []
    for col, d_t in zip(d_cols, d_types):
        dk = _duck_kind(d_t)
        if dk is None:
            errs.append(
                f"{col}: oracle emits {d_t} — fetchdf() coerces this to "
                "float64/object and the driver hash-fails; CAST(... AS "
                "BIGINT/DOUBLE/VARCHAR) in the oracle's final SELECT"
            )
            continue
        s_t = s_types.get(col)
        if s_t is None:
            continue  # name mismatch reported by the column compare
        sk = _SPARK_KIND.get(s_t)
        if sk is not None and sk != dk:
            errs.append(
                f"{col}: spark {s_t} (kind {sk}) vs oracle {d_t} (kind {dk})"
                " — the driver canonicalizer distinguishes these"
            )
    assert not errs, f"[{name}] engine type-kind mismatch:\n  " + "\n  ".join(errs)


def assert_driver_safe_schema(spark_df, *, name: str = "?") -> None:
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in spark_df.schema.fields
        if f.dataType.simpleString() not in DRIVER_SAFE_TYPES
    ]
    assert not bad, (
        f"[{name}] driver-hostile output column(s) {bad} — the driver "
        "canonicalizer crashes on nested types and mis-hashes decimals; "
        "cast/serialize in the final projection"
    )


def compare(spark_df, duck_con, sql: str, *, name: str = "?") -> None:
    """Assert a Spark DataFrame equals a DuckDB result (driver-t2 mirror),
    including that its output schema is driver-canonicalizer-safe."""
    assert_driver_safe_schema(spark_df, name=name)
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    d_cols, d_types, d_rows = fetch_oracle(duck_con, sql)
    assert_engine_type_kinds(spark_df, d_cols, d_types, name=name)

    assert sorted(s_cols) == sorted(d_cols), (
        f"[{name}] column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"[{name}] row count: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_canon = canonical_rows(s_cols, s_rows)
    d_canon = canonical_rows(d_cols, d_rows)
    if s_canon != d_canon:
        diffs = [
            f"  spark: {a}\n  duck : {b}"
            for a, b in zip(s_canon, d_canon)
            if a != b
        ][:5]
        raise AssertionError(
            f"[{name}] value mismatch ({sum(a != b for a, b in zip(s_canon, d_canon))} rows differ):\n"
            + "\n".join(diffs)
        )
