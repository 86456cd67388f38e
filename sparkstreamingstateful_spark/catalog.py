"""Table catalog: explicit schemas + loaders for the ten test tables.

Schemas are declared explicitly (FIXTURES.md, measured from the driver
parquet) because streaming file sources reject schema inference, and because
an explicit ``ReadSchema`` is what lets Catalyst prune columns at the scan.

``events.ts`` has shipped in two physical forms across testdata
generations: parquet ``timestamp[ns]`` (Spark 4 cannot represent nanos, so
it is read as long nanos via ``spark.sql.legacy.parquet.nanosAsLong`` and
converted with ``timestamp_micros(ts div 1000)`` — integer floor-division,
matching DuckDB's own ns→µs truncation bit-for-bit) and plain
``timestamp[us]`` (read directly as TimestampNTZ). ``events_ts_unit``
sniffs the parquet footer (a driver-side metadata read, cached per path)
and the loaders branch on it, so a testdata regeneration that flips the
unit can never silently skew ``ts`` by 1000×.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import configure

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Logical schemas (what queries see). events.ts is TimestampType here even
# though the physical file stores int64 nanos — load_table handles the cast.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            # parquet TIMESTAMP(MILLIS) is not UTC-adjusted → NTZ, matching
            # both Spark's own inference and DuckDB's naive timestamps.
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# Physical schema of the events parquet when ts is stored as timestamp[ns]
# on disk (read as int64 nanos under nanosAsLong) — used by streaming file
# sources, which must declare the on-disk schema.
EVENTS_PHYSICAL_SCHEMA_NS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
# Backwards-compat alias (pre-r4 name, when ns was the only observed form).
EVENTS_PHYSICAL_SCHEMA = EVENTS_PHYSICAL_SCHEMA_NS

_ts_unit_cache: dict[str, str] = {}


def events_ts_unit(path: str) -> str:
    """Sniff the on-disk unit of ``ts`` in an events parquet file or a
    directory of event chunks: ``"ns"`` (timestamp[ns]/int64 nanos) or
    ``"us"`` (timestamp[us]). Footer-only pyarrow read, cached per path."""
    if path not in _ts_unit_cache:
        import pyarrow as pa
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            members = sorted(_glob.glob(os.path.join(path, "*.parquet")))
            if not members:
                raise FileNotFoundError(f"no parquet files under {path}")
            # Chunk dirs are homogeneous by construction (one feeder run
            # writes every file) — but a stale feeder output mixed with
            # regenerated chunks would be silently read under one schema
            # and skew downstream, so reject mixed units loudly instead.
            # (Checked once per path per process — the verdict is cached
            # below; the feeder never mutates a dir after creating it, so
            # first-read validation is the meaningful window.)
            member_types = [pq.read_schema(m).field("ts").type for m in members]
            if len({str(t_) for t_ in member_types}) > 1:
                raise TypeError(
                    f"mixed events.ts physical types "
                    f"{sorted({str(t_) for t_ in member_types})} under "
                    f"{path} — stale chunks alongside regenerated ones?"
                )
            t = member_types[0]
        else:
            t = pq.read_schema(f).field("ts").type
        if pa.types.is_integer(t) or (pa.types.is_timestamp(t) and t.unit == "ns"):
            _ts_unit_cache[path] = "ns"
        elif pa.types.is_timestamp(t):
            _ts_unit_cache[path] = "us"
        else:
            raise TypeError(f"unexpected events.ts physical type {t} in {f}")
    return _ts_unit_cache[path]


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def _src_fingerprint(sf_dir: str, *tables: str) -> str:
    """Content fingerprint (mtime_ns + size) of source parquet files: a
    regenerated source under the SAME path invalidates every cache built
    from it instead of silently serving stale data."""
    parts = []
    for t in tables:
        st_ = os.stat(table_path(sf_dir, t))
        parts.append(f"{t}:{st_.st_mtime_ns}:{st_.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def cache_tag(sf_dir: str, *tables: str) -> str:
    """Key of everything derived from ``tables`` of ``sf_dir``: the dir
    basename plus the tables' content fingerprint, never the path alone."""
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return f"{base}_{_src_fingerprint(sf_dir, *tables)}"


def cache_dir(prefix: str, sf_dir: str | None = None, *tables: str) -> str:
    """The one home of content-keyed caches (derived layouts, sink dirs,
    state checkpoints): ``<tmp>/<prefix>_<cache_tag(sf_dir, *tables)>``.
    Without ``sf_dir`` it is ``<tmp>/<prefix>``, for callers that build
    the tag themselves (a cache that is also a catalog table needs a tag
    without dots, which would parse as a table qualifier)."""
    name = prefix if sf_dir is None else f"{prefix}_{cache_tag(sf_dir, *tables)}"
    return os.path.join(tempfile.gettempdir(), name)


def fill_once(path: str, fill) -> bool:
    """The completion contract of every marker-cached output: a dir
    holding ``_DONE`` is complete and kept; any other dir is a partial
    attempt and is wiped before ``fill()`` rebuilds it, and the marker is
    written only after ``fill`` returns. ``fill`` writes its whole output
    into ``path`` (Spark writers need ``mode("overwrite")``: the dir
    exists). Readers skip ``_``-prefixed files, so the marker is invisible
    to them. The marker, not a sink's own commit log (which exists from
    the FIRST micro-batch commit), is the key: a rerun's fresh checkpoint
    restarts batch ids at 0, so a kept partial ``_COMMITTED`` log would
    discard its batches as replays and the dir could never self-heal.
    Returns whether it filled."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return False
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    fill()
    with open(os.path.join(path, "_DONE"), "w"):
        pass
    return True


def physical_schema(name: str, *, sf_dir: str | None = None) -> T.StructType:
    if name != "events":
        return SCHEMAS[name]
    if sf_dir is not None and events_ts_unit(table_path(sf_dir, name)) == "us":
        return SCHEMAS["events"]
    return EVENTS_PHYSICAL_SCHEMA_NS


def _normalize_events(df: DataFrame) -> DataFrame:
    """long-nanos ts → timestamp_ntz (µs, floor-div — matches DuckDB's own
    ns→µs truncation bit-for-bit under the UTC session timezone)."""
    return df.withColumn(
        "ts", F.expr("timestamp_micros(ts div 1000)").cast(T.TimestampNTZType())
    )


# DataFrame handles are cheap logical plans, but each spark.read.parquet()
# builds a fresh file index (a driver-side listing + footer RPC that measures
# in seconds on slow metadata stores, and in minutes on a 100 TB lake) —
# cache the handle per (session, sf_dir, table). Weak-keyed by the
# SparkSession object itself: an id()-keyed dict is vulnerable to CPython
# id recycling (a new session allocated at a stopped session's address
# would be served DataFrames bound to the dead session), and the weak
# entry dies with the session instead of accumulating.
_df_cache: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame with its declared (logical) schema.

    The schema is passed to the reader explicitly: no inference job runs,
    and the scan's ReadSchema starts from the declared types.
    """
    per_session = _df_cache.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    configure(spark)
    df = spark.read.schema(physical_schema(name, sf_dir=sf_dir)).parquet(
        table_path(sf_dir, name)
    )
    if name == "events" and events_ts_unit(table_path(sf_dir, name)) == "ns":
        df = _normalize_events(df)
    per_session[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all tables as temp views (the spark.sql entry path)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming file source over event parquet chunks (explicit physical
    schema — streaming sources cannot infer). ``events_dir`` is a directory
    of parquet files (the feeder chunks events.parquet into simulated
    micro-batches there).

    ``ts`` becomes TimestampType (not NTZ): event-time watermarks require
    it (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). Under the UTC
    session timezone the µs instants are identical to the batch NTZ values;
    streaming queries cast their event-time outputs back to NTZ (an
    identity cast under UTC) so results compare exactly with batch/oracle.
    """
    configure(spark)
    unit = events_ts_unit(events_dir)
    schema = SCHEMAS["events"] if unit == "us" else EVENTS_PHYSICAL_SCHEMA_NS
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    if unit == "ns":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # NTZ → LTZ is an identity cast under the UTC session timezone; event-time
    # watermarks require TimestampType.
    return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
