"""Source/sink operators — batch side (SURVEY.md §2.1, S1/S2/S6).

Streaming sources/sinks (S3–S5) live in ``..streaming``.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import TABLE_NAMES, cache_dir, cache_tag, fill_once, load_table
from ..registry import query
from ..session import conf_guard


_S1_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS tbl, count(*) AS n FROM {t}" for t in TABLE_NAMES
)


@query("scan_parquet", oracle=_S1_ORACLE)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan all ten tables; one (table, row-count) row each."""
    counts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("tbl"), F.count(F.lit(1)).alias("n")
        )
        for t in TABLE_NAMES
    ]
    return functools.reduce(DataFrame.unionByName, counts)


@query(
    "scan_projection_pushdown",
    oracle="""
    SELECT l_orderkey, l_extendedprice AS price
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-of-11-column projection — tests assert the scan's ReadSchema shrank
    to exactly these columns (column pruning, SURVEY §4.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey", F.col("l_extendedprice").alias("price")
    )


@query(
    "scan_partition_pruning",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE)
          BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
    GROUP BY 1, 2
    """,
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: events written
    once per (sf_dir, session) as parquet partitioned by day, then read
    back with a day-range predicate. The predicate prunes at the
    DIRECTORY level (plan shows PartitionFilters, and only 3 of ~30 day
    directories are listed/read) — at 100 TB this is the difference
    between scanning a month and scanning three days. The cache dir is
    keyed by sf_dir so repeated calls (tests + driver) reuse the layout.
    """
    back = spark.read.parquet(_partitioned_events_dir(spark, sf_dir))
    return (
        back.filter(
            F.col("day").between(F.lit("2024-01-05"), F.lit("2024-01-07"))
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the Hive-style day-partitioned events layout both
    pruning keys read (cache keyed by content fingerprint)."""
    out = os.path.join(cache_dir("sss_part_events", sf_dir, "events"), "by_day")
    fill_once(
        out,
        lambda: load_table(spark, sf_dir, "events")
        .withColumn("day", F.date_trunc("day", F.col("ts")).cast("date"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(out),
    )
    return out


_DPP_PEAK_DAYS = (12, 13, 14)
_DPP_DIM = [
    (f"2024-01-{d:02d}", "peak" if d in _DPP_PEAK_DAYS else "off")
    for d in range(1, 32)
]
_DPP_DIM_SQL = ", ".join(f"(DATE '{d}', '{t}')" for d, t in _DPP_DIM)


@query(
    "scan_dynamic_partition_pruning",
    oracle=f"""
    WITH dim AS (SELECT * FROM (VALUES {_DPP_DIM_SQL}) AS t(day, tag))
    SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day, e.event_type,
           count(*) AS n
    FROM events e
    JOIN dim ON CAST(date_trunc('day', e.ts) AS DATE) = dim.day
    WHERE dim.tag = 'peak'
    GROUP BY 1, 2
    """,
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning (E9's runtime twin): the fact side is
    the same day-partitioned layout, but the day range arrives through a
    JOIN against a dimension filtered on a NON-partition attribute
    (tag = 'peak') — statically unknowable, so static pruning can't
    fire. Catalyst's PlanDynamicPruningFilters instead injects
    ``dynamicpruningexpression(day IN dynamicpruning#N)`` into the
    fact scan's PartitionFilters, reusing the dim's broadcast to prune
    at RUNTIME: only the 3 peak-day directories of ~30 are listed/read
    (pinned by tests/test_plans.py::test_dynamic_partition_pruning_plan).
    This is the star-schema 100 TB read pattern — "revenue on promo
    days" joins a filtered calendar dim, and DPP is what keeps the fact
    scan at 3 partitions instead of 3,000. The H-check pins the join
    semantics; the plan test pins that the pruning expression is
    actually in the scan."""
    back = spark.read.parquet(_partitioned_events_dir(spark, sf_dir))
    import datetime as _dt

    dim = spark.createDataFrame(
        [(_dt.date.fromisoformat(d), t) for d, t in _DPP_DIM],
        "day date, tag string",
    )
    return (
        back.join(dim, "day")
        .filter(F.col("tag") == "peak")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           count(*) AS n_lines,
           round(sum(l.l_extendedprice), 2) AS order_total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_custkey
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders and lineitem are written ONCE as
    bucketed tables (16 buckets on the join key) and the fact-fact join
    then plans with ZERO exchanges — both sides' bucket layout satisfies
    the join's distribution requirement (tests assert no Exchange before
    the SortMergeJoin). This is the core 100 TB fact-join strategy:
    bucket the big tables on their join key at write time and every
    subsequent join/aggregation on that key skips its shuffle. Tables
    are external (data under tmp, names keyed by sf) in the session
    catalog; creation is idempotent per (sf_dir, session)."""
    tag = cache_tag(sf_dir, "orders", "lineitem").replace(".", "_")
    base = cache_dir(f"sss_bucketed_{tag}")
    specs = {
        "orders": ("o_orderkey", ["o_orderkey", "o_custkey"]),
        "lineitem": ("l_orderkey", ["l_orderkey", "l_extendedprice"]),
    }
    for t, (key, cols) in specs.items():
        name = f"sss_bkt_{t}_{tag}"
        if not spark.catalog.tableExists(name):
            (
                load_table(spark, sf_dir, t)
                .select(*cols)
                .write.mode("overwrite")
                .option("path", os.path.join(base, t))
                .bucketBy(16, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    o = spark.table(f"sss_bkt_orders_{tag}")
    li = spark.table(f"sss_bkt_lineitem_{tag}")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("order_total"),
        )
    )


def _text_layout(
    spark: SparkSession, sf_dir: str, table: str, cols: list[str], fmt: str
) -> str:
    """Write a projected table once per (sf_dir, content, projection) as
    CSV/JSON under tmp (same content-fingerprint cache discipline as the
    partitioned and bucketed layouts) and return the path. The projection
    is part of the cache key: an explicit-schema CSV read applies the
    schema POSITIONALLY, so serving a stale layout with different/
    reordered columns would silently mis-assign values, not error."""
    spec = hashlib.md5(",".join(cols).encode()).hexdigest()[:6]
    out = f"{cache_dir(f'sss_{fmt}_{table}', sf_dir, table)}_{spec}"

    def fill() -> None:
        w = load_table(spark, sf_dir, table).select(*cols).write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).csv(out)
        elif fmt == "orc":
            w.orc(out)
        elif fmt == "xml":
            w.format("xml").option("rowTag", "row").save(out)
        else:
            w.json(out)

    fill_once(out, fill)
    return out


@query(
    "scan_csv",
    oracle="""
    SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS sum_bal
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CSV source (S6b): supplier written once as headered CSV
    (quoted strings — s_name may carry delimiters), re-read with an
    EXPLICIT schema (schema inference is a full extra pass over the data
    — never in a query path), aggregated. Spark serializes doubles via
    shortest-roundtrip repr, so the parsed values are bit-identical to
    the parquet originals and the oracle runs on the supplier view
    directly — the H-check proves the CSV write→read cycle is lossless
    for longs/ints/doubles/strings, not just that CSV parses."""
    from pyspark.sql import types as T

    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    out = _text_layout(spark, sf_dir, "supplier", cols, "csv")
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "scan_json",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch JSON-lines source (S6c): orders projected to
    (key, status, price), written once as JSON lines, re-read with an
    EXPLICIT schema, aggregated — same lossless-roundtrip H-check as
    scan_csv on the JSON path (the format every event-log ingest starts
    from before parquet compaction)."""
    from pyspark.sql import types as T

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    out = _text_layout(spark, sf_dir, "orders", cols, "json")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@query(
    "scan_python_datasource",
    oracle="""
    SELECT lang, source, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE n_chars >= 200
    GROUP BY lang, source
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python data source API (S6f):
    documents served through ``sources/pyds.ParquetDirDataSource`` — a
    from-scratch Python reader with per-(file, row-group) split planning,
    column pruning (``text`` never leaves the Arrow read), and filter
    pushdown (``n_chars >= 200`` is accepted by ``pushFilters`` and
    evaluated inside the reader; Spark drops it from its own plan, so
    this H-check is what proves the pushdown contract is sound). It reads
    the feeder's documents feed (``feeder.chunked_table_dir``, one file
    per chunk), so planning fans out over multiple splits."""
    from ..sources import pyds
    from ..streaming.feeder import chunked_table_dir

    out = chunked_table_dir(sf_dir, "documents")
    pyds.register(spark)
    back = (
        spark.read.format("sss_pyparquet")
        .option("path", out)
        .option("columns", "doc_id,lang,source,n_chars")
        .load()
    )
    return (
        back.filter(F.col("n_chars") >= 200)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def jsonl_sink_path(sf_dir: str) -> str:
    """THE cache location for write_python_datasource's sink output — a
    single definition shared with ``sink_cache_paths``, whose callers'
    timing depends on DELETING this exact path before a run (a drifted
    copy would silently time a cached no-op instead of the write)."""
    return cache_dir("sss_jsonlsink_documents", sf_dir, "documents")


@query(
    "write_python_datasource",
    oracle="""
    SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY source
    """,
)
def write_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source SINK (S6h): documents written through
    ``sources/pyds.JsonlSinkDataSource`` — per-task Arrow-batch streaming
    into temp files, then a driver-side two-phase commit (rename to
    final part names + ``_SUCCESS`` manifest; aborted tasks leave no
    visible files) — and read back via the ordinary JSON reader with an
    explicit schema. The H-check against the parquet-backed oracle
    proves the full write-protocol → read cycle is lossless: a dropped
    batch, double-committed retry, or promoted orphan file would shift
    the per-source counts."""
    from pyspark.sql import types as T

    from ..sources import pyds

    pyds.register(spark)
    out = jsonl_sink_path(sf_dir)
    fill_once(
        out,
        lambda: load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .write.format("sss_jsonl")
        .mode("overwrite")
        .option("path", out)
        .save(),
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "scan_orc",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ORC source (S6e): the other columnar warehouse format Spark
    ships a native vectorized reader for (Hive-era lakes are full of it —
    a drop-in engine must read both). lineitem's flag/status/qty/price
    columns are written once as ORC, re-read (ORC files are
    self-describing: types come from the file footer, no positional
    schema risk as with CSV), and aggregated. ORC stores doubles as
    IEEE-754 bits, so the H-check against the parquet-backed oracle
    proves the ORC write→read cycle is lossless for longs/doubles/
    strings, not merely that ORC parses. Scale: the same pushdown/
    pruning contract as parquet (Spark's OrcFileFormat supports predicate
    pushdown + column pruning via the vectorized reader)."""
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"]
    out = _text_layout(spark, sf_dir, "lineitem", cols, "orc")
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "scan_xml",
    oracle="""
    SELECT c_mktsegment, count(*) AS n,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch XML source (S6j): Spark 4's BUILT-IN XML data source (the
    former spark-xml package, merged in 4.0) — the enterprise-feed
    format (SOAP exports, legacy ERP dumps) a drop-in engine still has
    to ingest. customer's key/segment/balance columns are written once
    as `<row>` elements (XML entity escaping verified: `&`/`<` survive
    the cycle), re-read with an EXPLICIT schema + matching ``rowTag``
    (inference is an extra full pass, as with CSV/JSON), and aggregated.
    Spark serializes doubles via shortest-roundtrip repr in XML as in
    CSV/JSON, so the H-check against the parquet-backed oracle proves
    the XML write→read cycle is lossless for longs/strings/doubles.
    Scale: XML is a row-wise text format — no pushdown, no pruning;
    splits are per-file, so the layout writer controls parallelism.
    It's the INGEST format; the first job of any pipeline here is
    compacting it to parquet (S6's write_roundtrip)."""
    from pyspark.sql import types as T

    cols = ["c_custkey", "c_mktsegment", "c_acctbal"]
    out = _text_layout(spark, sf_dir, "customer", cols, "xml")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    back = (
        spark.read.schema(schema).format("xml").option("rowTag", "row").load(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "scan_text",
    oracle="""
    SELECT len(string_split(text, ' ')) // 10 AS tok_bucket,
           count(*) AS n_lines,
           CAST(sum(len(text)) AS BIGINT) AS sum_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
    FROM documents
    GROUP BY 1
    """,
)
def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source (S6d): the corpus ingest format every
    LLM-data pipeline starts from. documents.text written once as plain
    .txt (one document per line; the write guards that no document
    embeds a newline — write.text would emit it raw and silently split
    the document across lines), re-read with ``spark.read.text``, and
    per-line stats aggregated by token-count bucket. The oracle computes
    the same stats from the documents view, so the H-check proves the
    text write→read cycle preserves every character of every line."""
    out = cache_dir("sss_text_documents", sf_dir, "documents")

    def fill() -> None:
        docs = load_table(spark, sf_dir, "documents").select("text")
        n_bad = docs.filter(
            F.col("text").contains("\n") | F.col("text").contains("\r")
        ).count()
        if n_bad:
            raise ValueError(
                f"{n_bad} documents embed newlines — a line-oriented text "
                "layout would silently split them; use JSON/parquet"
            )
        docs.write.mode("overwrite").text(out)

    fill_once(out, fill)
    back = spark.read.text(out)
    toks = F.size(F.split(F.col("value"), " "))
    return (
        back.groupBy((toks / 10).cast("long").alias("tok_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("value")).alias("sum_chars"),
            F.sum(toks).alias("sum_tokens"),
        )
    )


@query(
    "write_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write customer to parquet, re-read, aggregate — the H-check proves
    the write→read cycle is lossless (CSV/JSON get the same H-checked
    treatment in scan_csv/scan_json above; tests/test_sources.py holds
    the exact-row roundtrip test). Every run overwrites the one parquet
    dir kept per source content."""
    c = load_table(spark, sf_dir, "customer")
    out = cache_dir("sss_parquet_roundtrip", sf_dir, "customer")
    c.write.mode("overwrite").parquet(out)
    back = spark.read.schema(c.schema).parquet(out)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
    )


# ------------------------------------------------------------- z-order layout
_Z_BITS = 11  # covers user_id <= 1499 and the ~720-hour event window
_Z_FILE_WIDTH = 65536  # 2^16 z-values per file => 64 files over 22 bits
# aligned query rectangle: 4 users x 32 hours — user block sized to stay
# POPULATED at every shipped SF (user_id tops out at 14 at sf0.001)
_Z_USER_LO, _Z_USER_HI = 8, 11
_Z_HOUR_LO, _Z_HOUR_HI = 256, 287


def _z_interleave_sql(x: str, y: str) -> str:
    """Morton interleave as pure +/>>/&/<< arithmetic — the same textual
    expression runs on both engines (DuckDB ``^`` is POWER, never used
    here; a known cross-engine gotcha)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _z_interleave_col(x, y):
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


@query(
    "layout_zorder",
    oracle=f"""
    WITH base AS (
        SELECT event_id, user_id,
               epoch_us(date_trunc('hour', ts)) // 3600000000
                 - (SELECT min(epoch_us(date_trunc('hour', ts))
                              // 3600000000) FROM events) AS h_idx
        FROM events
    ),
    z AS (
        SELECT event_id, user_id, h_idx,
               {_z_interleave_sql("user_id", "h_idx")} AS zval
        FROM base
    )
    SELECT event_id, user_id, h_idx, zval,
           zval // {_Z_FILE_WIDTH} AS file_id
    FROM z
    WHERE user_id BETWEEN {_Z_USER_LO} AND {_Z_USER_HI}
      AND h_idx BETWEEN {_Z_HOUR_LO} AND {_Z_HOUR_HI}
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) clustering key — the multi-dimensional data
    layout trick behind Delta/Iceberg ``OPTIMIZE ZORDER BY``: bit-
    interleave two dimensions (user, event hour) so that a RECTANGLE in
    (user, time) space maps to a small number of CONTIGUOUS z-ranges —
    i.e. to a handful of files once data is range-partitioned by zval,
    instead of the every-file scatter a single-dimension sort gives the
    second column. file_id = zval div 2^16 is exactly the file
    assignment a range-partitioned z-sorted write produces (computed
    arithmetically, so no global sort is needed HERE: at 100 TB the
    write itself does one range-exchange on zval — the same cost as any
    sorted write — and every later rectangle query prunes by file
    min/max stats). The H-check pins the per-row interleave arithmetic
    (11 bits per dimension, pure +/>>/&/<< shared with the oracle
    text) and the query-rectangle slice; tests/test_layout.py asserts
    the locality claim itself: the aligned rectangle lands in ONE
    z-file, and a single-user full-history query touches a bounded
    handful of z-files where a time-sorted layout scatters it across
    nearly every file.

    Scale: narrow per-row expression in whole-stage codegen + one
    pushed-down filter — zero shuffles in the query; the layout cost
    is paid once at write time."""
    ev = load_table(spark, sf_dir, "events")
    h_abs = F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
    base = ev.select("event_id", "user_id", h_abs.alias("h_abs"))
    h0 = base.agg(F.min("h_abs").alias("h0"))
    z = (
        base.crossJoin(F.broadcast(h0))
        .select(
            "event_id",
            "user_id",
            (F.col("h_abs") - F.col("h0")).alias("h_idx"),
        )
        .withColumn(
            "zval", _z_interleave_col(F.col("user_id"), F.col("h_idx"))
        )
    )
    return z.filter(
        F.col("user_id").between(_Z_USER_LO, _Z_USER_HI)
        & F.col("h_idx").between(_Z_HOUR_LO, _Z_HOUR_HI)
    ).select(
        "event_id",
        "user_id",
        "h_idx",
        "zval",
        F.expr(f"zval div {_Z_FILE_WIDTH}").alias("file_id"),
    )


# ---------------------------------------------------------------------------
# Dirty-ingest surface (S6k/S6l): parser-mode contract on corrupt input.
# Every production ingest path meets malformed records; the reader's three
# modes (PERMISSIVE + columnNameOfCorruptRecord / DROPMALFORMED / FAILFAST)
# are the knobs that decide whether they surface, vanish, or abort. The
# corrupt rows are injected DETERMINISTICALLY (a modular rule on the key),
# so the DuckDB oracle reproduces the expected per-mode counts and the
# clean-row aggregate straight from the parquet source — the H-check pins
# the parser contract itself, not just "it didn't crash". FAILFAST (abort)
# can't return a DataFrame and is pinned in tests/test_scans instead.
#
# Scale: the dirty layouts are one-time content-fingerprint-cached writes
# (same discipline as every other derived layout); the reads are plain
# distributed text-source scans with explicit schemas — per-record parse
# error handling is local to the task, no driver involvement.
# ---------------------------------------------------------------------------

_JSON_CORRUPT_MOD = 97   # o_orderkey % 97 == 13 -> truncated JSON line
_JSON_CORRUPT_RES = 13
_CSV_BAD_MOD = 89        # c_custkey % 89 == 7 -> non-numeric acctbal field
_CSV_BAD_RES = 7


def dirty_json_layout(spark: SparkSession, sf_dir: str) -> str:
    """orders projected to (key, status, price) as JSON lines, with rows
    matching the modular rule truncated mid-object (guaranteed
    unparseable). Written once per (sf_dir, orders content)."""
    out = cache_dir("sss_dirty_json_orders", sf_dir, "orders")

    def fill() -> None:
        o = load_table(spark, sf_dir, "orders")
        line = F.to_json(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        )
        corrupt = F.concat(F.substring(line, 1, 12), F.lit('{"trunc'))
        dirty = F.when(
            F.col("o_orderkey") % _JSON_CORRUPT_MOD == _JSON_CORRUPT_RES,
            corrupt,
        ).otherwise(line)
        o.select(dirty.alias("value")).write.mode("overwrite").text(out)

    fill_once(out, fill)
    return out


def dirty_csv_layout(spark: SparkSession, sf_dir: str) -> str:
    """customer projected to (key, segment, acctbal) as headerless CSV,
    with rows matching the modular rule carrying 'N/A' in the DOUBLE
    acctbal field (type-malformed under an explicit schema)."""
    out = cache_dir("sss_dirty_csv_customer", sf_dir, "customer")

    def fill() -> None:
        c = load_table(spark, sf_dir, "customer")
        bal = F.when(
            F.col("c_custkey") % _CSV_BAD_MOD == _CSV_BAD_RES, F.lit("N/A")
        ).otherwise(F.col("c_acctbal").cast("string"))
        c.select(
            F.concat_ws(
                ",",
                F.col("c_custkey").cast("string"),
                F.col("c_mktsegment"),
                bal,
            ).alias("value")
        ).write.mode("overwrite").text(out)

    fill_once(out, fill)
    return out


def _ingest_mode_row(df: DataFrame, mode: str, price_col: str, corrupt) -> DataFrame:
    """One (mode, n_rows, n_corrupt, clean_total_c) summary row. The money
    total is exact BIGINT cents (the fixed-point rule) over rows the
    parser accepted cleanly; `corrupt` is the corrupt-marker predicate
    (a Column) or None when the mode drops malformed rows outright."""
    is_bad = corrupt if corrupt is not None else F.lit(False)
    cents = F.expr(f"CAST(round({price_col} * 100) AS BIGINT)")
    return df.agg(
        F.lit(mode).alias("mode"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(is_bad, 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(~is_bad, cents).otherwise(0))
        .cast("bigint")
        .alias("clean_total_c"),
    )


@query(
    "scan_json_corrupt",
    oracle=f"""
    SELECT 'PERMISSIVE' AS mode,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % {_JSON_CORRUPT_MOD} = {_JSON_CORRUPT_RES}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % {_JSON_CORRUPT_MOD} <> {_JSON_CORRUPT_RES}
                         THEN CAST(round(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS clean_total_c
    FROM orders
    UNION ALL
    SELECT 'DROPMALFORMED' AS mode,
           CAST(sum(CASE WHEN o_orderkey % {_JSON_CORRUPT_MOD} <> {_JSON_CORRUPT_RES}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
           0 AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % {_JSON_CORRUPT_MOD} <> {_JSON_CORRUPT_RES}
                         THEN CAST(round(o_totalprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS clean_total_c
    FROM orders
    """,
)
def scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty JSON ingest (S6k): the same deterministically-corrupted
    JSON-lines file read under PERMISSIVE (corrupt rows surface with all
    data fields NULL and the raw line captured in the
    columnNameOfCorruptRecord column) and DROPMALFORMED (corrupt rows
    silently vanish). One summary row per mode: rows surfaced, corrupt
    rows surfaced, exact cents total over cleanly-parsed rows. The
    oracle recomputes all three from the parquet source via the
    injection rule — a parser that mis-classifies even one record
    breaks a count or the total."""
    from pyspark.sql import types as T

    out = dirty_json_layout(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    perm = _ingest_mode_row(
        permissive, "PERMISSIVE", "o_totalprice", F.col("_corrupt").isNotNull()
    )
    drop_schema = T.StructType(schema.fields[:3])
    dropped = (
        spark.read.schema(drop_schema).option("mode", "DROPMALFORMED").json(out)
    )
    drop = _ingest_mode_row(dropped, "DROPMALFORMED", "o_totalprice", None)
    return perm.unionByName(drop)


@query(
    "scan_csv_malformed",
    oracle=f"""
    SELECT 'PERMISSIVE' AS mode,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN c_custkey % {_CSV_BAD_MOD} = {_CSV_BAD_RES}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN c_custkey % {_CSV_BAD_MOD} <> {_CSV_BAD_RES}
                         THEN CAST(round(c_acctbal * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS clean_total_c
    FROM customer
    UNION ALL
    SELECT 'DROPMALFORMED' AS mode,
           CAST(sum(CASE WHEN c_custkey % {_CSV_BAD_MOD} <> {_CSV_BAD_RES}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
           0 AS n_corrupt,
           CAST(sum(CASE WHEN c_custkey % {_CSV_BAD_MOD} <> {_CSV_BAD_RES}
                         THEN CAST(round(c_acctbal * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS clean_total_c
    FROM customer
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty CSV ingest (S6l): type-malformed records ('N/A' in a DOUBLE
    field) under PERMISSIVE vs DROPMALFORMED — the CSV twin of
    scan_json_corrupt, same oracle discipline. Type errors (not just
    syntax) trip the per-record malformed path: PERMISSIVE nulls the bad
    field and captures the raw line; DROPMALFORMED drops the record."""
    from pyspark.sql import types as T

    out = dirty_csv_layout(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    perm = _ingest_mode_row(
        permissive, "PERMISSIVE", "c_acctbal", F.col("_corrupt").isNotNull()
    )
    drop_schema = T.StructType(schema.fields[:3])
    dropped = (
        spark.read.schema(drop_schema).option("mode", "DROPMALFORMED").csv(out)
    )
    drop = _ingest_mode_row(dropped, "DROPMALFORMED", "c_acctbal", None)
    return perm.unionByName(drop)


# ---------------------------------------------------------------------------
# Schema evolution & partition-overwrite surface (S6m/S6n): the two write-
# side contracts every long-lived production dataset exercises — readers
# that span schema versions, and idempotent partition-level reloads.
# ---------------------------------------------------------------------------

_EVOLVE_SPLIT_MOD = 3  # o_orderkey % 3: rows 0/1 -> v1 drop, row 2 -> v2 drop


def evolved_parquet_layout(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet drops of orders under one directory with EVOLVED
    schemas: v1 (key, status, price) then v2 adding o_orderpriority —
    the additive-column evolution every long-lived dataset accretes.
    Split is deterministic on the key; content-fingerprint cached."""
    out = cache_dir("sss_evolved_orders", sf_dir, "orders")

    def fill() -> None:
        o = load_table(spark, sf_dir, "orders")
        v1 = o.filter(F.col("o_orderkey") % _EVOLVE_SPLIT_MOD < 2).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        v2 = o.filter(F.col("o_orderkey") % _EVOLVE_SPLIT_MOD == 2).select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
        v1.write.mode("overwrite").parquet(os.path.join(out, "v1"))
        v2.write.mode("overwrite").parquet(os.path.join(out, "v2"))

    fill_once(out, fill)
    return out


@query(
    "scan_parquet_merge_schema",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % {_EVOLVE_SPLIT_MOD} = 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_priority,
           CAST(sum(CASE WHEN o_orderkey % {_EVOLVE_SPLIT_MOD} = 2
                           AND o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_c
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_parquet_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (S6m): ``mergeSchema=true`` over two parquet
    drops where the newer drop added a column — the reader must union the
    schemas and surface NULL for the column's pre-evolution rows. The
    oracle recomputes the merged view from the source via the split rule,
    so the H-check pins (a) no rows lost across versions, (b) the evolved
    column populated EXACTLY on post-evolution rows, (c) values intact
    (exact-cents total).

    Scale: schema merge reads ALL file footers when asked to (an O(files)
    planning cost — that is why it is opt-in and why this read pins an
    explicit two-version layout rather than defaulting mergeSchema on);
    the data scan itself is ordinary columnar pruning either way."""
    out = evolved_parquet_layout(spark, sf_dir)
    merged = spark.read.option("mergeSchema", True).option(
        "recursiveFileLookup", False
    ).parquet(os.path.join(out, "v1"), os.path.join(out, "v2"))
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_priority"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("bigint")
        .alias("n_urgent"),
        F.sum(cents).cast("bigint").alias("total_c"),
    )


def dpo_sink_path(sf_dir: str) -> str:
    """write_dynamic_partition_overwrite's sink dir — marker-cached for
    the correctness gate, listed in streaming.queries.sink_cache_paths so
    bench.py times the real two-phase write, not a cached re-read."""
    return cache_dir("sss_dpo_orders", sf_dir, "orders")


@query(
    "write_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
                         ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                    END) AS BIGINT) AS total_c
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def write_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (S6n): ``partitionOverwriteMode=dynamic``
    — overwrite mode replaces ONLY the partitions present in the incoming
    frame, the idempotent partition-level reload every nightly reprocess
    depends on (STATIC mode would truncate the whole table first; one
    late partition re-run would silently drop every other partition).
    The key writes orders partitioned by status, then overwrites JUST the
    'P' partition with doubled cents values; the read-back must show 'P'
    rows carrying 2× cents while 'F'/'O' survive untouched at 1× — a
    static-mode regression empties them and fails the row counts.

    Scale: partition-level overwrite is the unit of idempotent reload at
    100 TB (rewrite one day/status directory, never the table); the
    doubled-partition trick makes torn/leaked state numerically visible
    rather than count-only."""
    out = dpo_sink_path(sf_dir)
    o = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")

    def fill() -> None:
        base = o.select("o_orderkey", cents.alias("cents"), "o_orderstatus")
        base.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
        patch = (
            o.filter(F.col("o_orderstatus") == "P")
            .select(
                "o_orderkey",
                (cents * 2).alias("cents"),
                "o_orderstatus",
            )
        )
        dynamic = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        with conf_guard(spark, dynamic):
            patch.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)

    fill_once(out, fill)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("total_c"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction (S6o): the data-lake maintenance job. Streaming
# ingest and over-parallel writers leave thousands of KB-sized files per
# partition; every later scan then pays a per-file open/footer/seek cost
# that dwarfs the data read (at 100 TB the NameNode/listing cost alone can
# dominate). The compactor rewrites a fragmented directory into
# target-sized files WITHOUT a shuffle — coalesce() merges existing
# partitions in place — and the H-check proves the rewrite is lossless.
# ---------------------------------------------------------------------------

_FRAG_FILES = 64          # deliberately fragmented input layout
_COMPACT_TARGET_BYTES = 4 * 1024 * 1024


def fragmented_lineitem_layout(spark: SparkSession, sf_dir: str) -> str:
    """lineitem written once as an over-fragmented directory (64 files
    regardless of size) — the 'after a month of micro-batches' state."""
    out = cache_dir("sss_frag_lineitem", sf_dir, "lineitem")
    fill_once(
        out,
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .repartition(_FRAG_FILES)
        .write.mode("overwrite")
        .parquet(out),
    )
    return out


def compact_sink_path(sf_dir: str) -> str:
    """maintenance_compact_files' sink dir — marker-cached for the
    correctness gate, listed in sink_cache_paths so bench times the real
    compaction write."""
    return cache_dir("sss_compact_lineitem", sf_dir, "lineitem")


@query(
    "maintenance_compact_files",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_c
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION (S6o): read the 64-file fragmented layout,
    size the output from the actual on-disk bytes (file-count planning
    metadata — a driver-side listing, exactly what any compactor does at
    plan time), and rewrite with ``coalesce(n)`` — partition MERGE, no
    shuffle: each output task concatenates existing partitions, so the
    rewrite moves every byte exactly once. The read-back aggregate must
    match the source table (losslessness is the contract a compactor
    must prove); the file-count/size claims are pinned in
    tests/test_sources.py::test_compaction_reduces_files.

    Scale: at 100 TB compaction runs per-partition-directory with the
    same shape (list → size → coalesce-write); the alternative
    ``repartition(n)`` would shuffle the whole dataset to rebalance —
    only worth it under severe skew, which listing detects first."""
    frag = fragmented_lineitem_layout(spark, sf_dir)
    out = compact_sink_path(sf_dir)

    def fill() -> None:
        total = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag)
            if f.endswith(".parquet")
        )
        n_out = max(1, -(-total // _COMPACT_TARGET_BYTES))  # ceil div
        spark.read.parquet(frag).coalesce(int(n_out)).write.mode(
            "overwrite"
        ).parquet(out)

    fill_once(out, fill)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("total_c"),
    )


def _recursive_layout(spark: SparkSession, sf_dir: str) -> str:
    """Arbitrarily-NESTED (non-Hive) orders layout for the recursive-
    lookup key, cached by content fingerprint: status F under
    deep/f/files, O under deep/o/more/files, P at the top level — plus a
    DECOY `.bin` copy of one parquet file that a glob-less read would
    double-count. Nesting depth varies per branch deliberately: Hive
    partition discovery would reject the layout (no key=value dirs),
    which is the point — recursiveFileLookup is the escape hatch for
    inherited directory trees."""
    import shutil

    root = cache_dir("sss_rfl", sf_dir, "orders")

    def fill() -> None:
        o = load_table(spark, sf_dir, "orders")
        dests = {
            "F": os.path.join(root, "deep", "f"),
            "O": os.path.join(root, "deep", "o", "more"),
            "P": root,
        }
        for status, dest in dests.items():
            o.filter(F.col("o_orderstatus") == status).coalesce(1).write.mode(
                "overwrite"
            ).parquet(dest + "_stage")
            os.makedirs(dest, exist_ok=True)
            for f_ in os.listdir(dest + "_stage"):
                if f_.endswith(".parquet"):
                    shutil.move(
                        os.path.join(dest + "_stage", f_),
                        os.path.join(dest, f"orders_{status}.parquet"),
                    )
            shutil.rmtree(dest + "_stage")
        # decoy: same bytes, wrong suffix — must be glob-excluded
        shutil.copy(
            os.path.join(dests["F"], "orders_F.parquet"),
            os.path.join(dests["F"], "orders_F.bin"),
        )

    fill_once(root, fill)
    return root


@query(
    "scan_recursive_glob",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_c
    FROM orders GROUP BY o_orderstatus
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingestion (S6p): `recursiveFileLookup` +
    `pathGlobFilter` over an arbitrarily-nested NON-Hive tree (depths
    differ per branch; no key=value dirs, so partition discovery can't
    apply) — the inherited-data-lake shape every migration hits. The
    glob filter excludes a same-bytes `.bin` decoy that an unfiltered
    recursive read WOULD double-count (the F group's totals would
    double and fail the hash), so the H-check pins both the full
    traversal and the filter. Explicit schema as always (no inference
    job). Scale: listing is driver-side metadata — at real scale this
    layout is exactly why recursive listing cost matters and why the
    parallel listing threshold (`spark.sql.sources.parallelPartition
    Discovery.threshold`) exists; the read itself is a plain pruned
    columnar scan."""
    from ..catalog import SCHEMAS

    root = _recursive_layout(spark, sf_dir)
    df = (
        spark.read.schema(SCHEMAS["orders"])
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_c"),
    )


def rebalance_sink_path(sf_dir: str) -> str:
    """maintenance_rebalance's sink dir — marker-cached for the
    correctness gate, listed in sink_cache_paths so bench times the
    real rebalanced write."""
    return cache_dir("sss_rebal_lineitem", sf_dir, "lineitem")


@query(
    "maintenance_rebalance",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_c
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def maintenance_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE REBALANCE rewrite (S6q, VERDICT r14 item 6) — the third
    layout-maintenance op after compaction (S6o, no-shuffle merge) and
    Z-order (E19, locality re-sort): ``df.hint("rebalance", col)`` /
    ``/*+ REBALANCE(col) */`` plans a ``RebalancePartitions`` node
    whose shuffle AQE re-plans at runtime — small post-shuffle
    partitions COALESCE and oversized (skewed) ones SPLIT, yielding
    write-sized output files that plain ``repartition(col)`` cannot
    deliver under skew (every skewed key lands whole in one task).
    Input is the 64-file fragmented layout; rebalancing on
    l_returnflag (3 values — maximal skew for a hash shuffle) is
    exactly the case where AQE's split path earns its keep. The
    H-checked contract is LOSSLESSNESS — the read-back per-flag
    count / key-sum / exact-cents aggregate must equal the source
    table — and the plan shape is pinned in
    tests/test_plans.py::test_rebalance_hint_plans_rebalance_node.

    Scale: at 100 TB this is the standard pre-write step of every
    table-maintenance job (one shuffle, AQE-sized output); the
    rebalance shuffle moves each byte once, same as the write itself."""
    frag = fragmented_lineitem_layout(spark, sf_dir)
    out = rebalance_sink_path(sf_dir)
    fill_once(
        out,
        lambda: spark.read.parquet(frag)
        .hint("rebalance", "l_returnflag")
        .write.mode("overwrite")
        .parquet(out),
    )
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_orderkey").cast("bigint").alias("key_sum"),
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("total_c"),
    )
