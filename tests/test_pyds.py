"""Custom Python data source (S6f): split planning, column pruning, and
the filter-pushdown contract — the parts the oracle H-check alone cannot
pin (it proves end results, not WHERE the filter ran)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, StringContains

from sparkstreamingstateful_spark import registry
from sparkstreamingstateful_spark.catalog import load_table
from sparkstreamingstateful_spark.sources import pyds

from .conftest import SF_UNIT

QUERIES, _ = registry.collect()


@pytest.fixture()
def pq_dir(tmp_path):
    """3 files × 2 row groups each → 6 plannable splits."""
    for i in range(3):
        t = pa.table(
            {
                "k": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                "name": pa.array([f"row{j}" for j in range(10)]),
                "v": pa.array([float(j) for j in range(10)], pa.float64()),
            }
        )
        pq.write_table(t, str(tmp_path / f"{i}.parquet"), row_group_size=5)
    return str(tmp_path)


def test_split_planning_per_rowgroup(spark, pq_dir):
    # spark fixture: StructType.fromDDL parses through the active session
    from pyspark.sql.types import StructType

    src = pyds.ParquetDirDataSource({"path": pq_dir})

    schema = StructType.fromDDL(src.schema())
    parts = src.reader(schema).partitions()
    assert len(parts) == 6  # 3 files × 2 row groups
    assert sorted({os.path.basename(p.value[0]) for p in parts}) == [
        "0.parquet",
        "1.parquet",
        "2.parquet",
    ]


def test_pushdown_split_and_reader_side_eval(spark, pq_dir):
    """pushFilters keeps what Arrow can evaluate, returns the rest; an
    accepted filter must actually drop rows inside read() (Spark removes
    it from its own plan, so a no-op acceptance would be a wrong answer,
    not a slowdown)."""
    from pyspark.sql.types import StructType

    _ = spark  # StructType.fromDDL needs an active session

    src = pyds.ParquetDirDataSource({"path": pq_dir})
    reader = src.reader(StructType.fromDDL(src.schema()))
    from pyspark.sql.datasource import In

    returned = list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("k",), 15),
                In(("name",), ("row5", "row6", "row7")),
                StringContains(("name",), "row"),  # not in the accept list
            ]
        )
    )
    assert [type(f) for f in returned] == [StringContains]
    assert [type(f) for f in reader.accepted] == [GreaterThanOrEqual, In]
    rows = [
        r
        for part in reader.partitions()
        for batch in reader.read(part)
        for r in batch.to_pylist()
    ]
    # k >= 15 AND name IN (row5, row6, row7): names repeat per file, so
    # the survivors are k ∈ {15,16,17,25,26,27}
    assert sorted(r["k"] for r in rows) == [15, 16, 17, 25, 26, 27]


def test_differential_vs_native_parquet(spark, pq_dir):
    """End-to-end through Spark: the custom source under projection +
    mixed (pushable and non-pushable) predicates must equal the native
    parquet scan of the same directory."""
    pyds.register(spark)
    pred = (
        (F.col("k") % 2 == 0)  # % not pushable
        & (F.col("k") >= 10)
        & F.col("name").isin("row0", "row2", "row4", "row6")  # In IS pushed
    )
    custom = (
        spark.read.format("sss_pyparquet")
        .option("path", pq_dir)
        .option("columns", "k,name")
        .load()
        .filter(pred)
    )
    native = spark.read.parquet(pq_dir).select("k", "name").filter(pred)
    assert sorted(map(tuple, custom.collect())) == sorted(map(tuple, native.collect()))
    assert custom.schema == native.schema


def test_registered_key_matches_parquet_path(spark):
    """The registered key equals the same aggregation computed off the
    ordinary parquet scan — catches a pushdown or pruning wrong-answer
    without DuckDB in the loop."""
    got = sorted(
        map(tuple, QUERIES["scan_python_datasource"](spark, SF_UNIT).collect())
    )
    want = sorted(
        map(
            tuple,
            load_table(spark, SF_UNIT, "documents")
            .filter(F.col("n_chars") >= 200)
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("sum_chars"))
            .collect(),
        )
    )
    assert got == want


def test_schema_drift_rejected(spark, pq_dir):
    """A drifted file in the directory must fail planning loudly — the
    declared DDL came from file 0, so reading a drifted file would
    mis-assign types, not error."""
    from pyspark.sql.types import StructType

    drifted = pa.table(
        {
            "k": pa.array(["not-a-long"]),  # string where file 0 has int64
            "name": pa.array(["x"]),
            "v": pa.array([1.0], pa.float64()),
        }
    )
    pq.write_table(drifted, os.path.join(pq_dir, "9.parquet"))

    src = pyds.ParquetDirDataSource({"path": pq_dir})
    reader = src.reader(StructType.fromDDL(src.schema()))
    with pytest.raises(ValueError, match="schema drift"):
        reader.partitions()
    with pytest.raises(ValueError, match="schema drift"):
        pyds.ParquetDirStreamDataSource({"path": pq_dir}).streamReader(
            StructType.fromDDL(src.schema())
        )


def test_stream_source_replay_deterministic(spark, pq_dir):
    """Exactly-once rests on replay determinism: re-reading any offset
    range must yield identical rows (the checkpoint's offset log replays
    uncommitted batches after a failure). Also pins the offset walk: the
    rate-limit cursor advances one split per latestOffset call and
    plans exactly the [start, end) splits."""
    from pyspark.sql.types import StructType

    src = pyds.ParquetDirStreamDataSource({"path": pq_dir, "splits_per_batch": "1"})
    schema = StructType.fromDDL(src.schema())
    reader = src.streamReader(schema)
    assert reader.initialOffset() == {"split": 0}
    offsets = [reader.latestOffset() for _ in range(8)]
    # 6 splits, one per call, then saturates
    assert [o["split"] for o in offsets] == [1, 2, 3, 4, 5, 6, 6, 6]

    def read_range(lo, hi):
        return [
            r
            for part in reader.partitions({"split": lo}, {"split": hi})
            for batch in reader.read(part)
            for r in batch.to_pylist()
        ]

    first = read_range(2, 5)
    assert len(first) == 15  # 3 splits × 5 rows per row group
    assert read_range(2, 5) == first  # replay == original
    everything = read_range(0, 6)
    assert sorted(r["k"] for r in everything) == list(range(30))

    # rate limiter honors splits_per_batch > 1
    wide = pyds.ParquetDirStreamDataSource(
        {"path": pq_dir, "splits_per_batch": "4"}
    ).streamReader(schema)
    assert [wide.latestOffset()["split"] for _ in range(3)] == [4, 6, 6]


def test_stream_source_microbatch_count(spark):
    """The registered key must genuinely consume the feed as multiple
    micro-batches (one per split), not one availableNow gulp: the feeder's
    documents feed has one split per chunk, so the stream runs at the
    feeder's cut."""
    from sparkstreamingstateful_spark.streaming import feeder, runner

    res = QUERIES["stream_python_datasource"](spark, SF_UNIT)
    assert res.count() > 0
    data_batches = [
        p for p in runner.LAST_QUERY_PROGRESS if p.get("numInputRows", 0) > 0
    ]
    feed = feeder.chunked_table_dir(SF_UNIT, "documents")
    assert len(pyds.list_splits(feed)) == feeder.DEFAULT_CHUNKS > 1
    assert len(data_batches) == feeder.DEFAULT_CHUNKS, (
        f"expected {feeder.DEFAULT_CHUNKS} data micro-batches (one per "
        f"chunk), saw {len(data_batches)}"
    )


def test_sink_commit_protocol(spark, tmp_path):
    """Two-phase commit: after a successful write the directory holds
    ONLY final part files + a _SUCCESS manifest whose per-part row counts
    sum to the input; no temp files survive. Overwrite clears prior
    parts. Abort removes temp files (writer-level unit check)."""
    import json

    pyds.register(spark)
    out = str(tmp_path / "sink")
    df = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS STRING) AS source", "id * 3 AS n_chars"
    )
    for _ in range(2):  # second pass exercises overwrite of existing parts
        df.write.format("sss_jsonl").mode("overwrite").option("path", out).save()
    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert not [n for n in names if n.startswith("_tmp_")]
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert {p["file"] for p in manifest["parts"]} == {
        n for n in names if n.endswith(".jsonl")
    }
    assert sum(p["rows"] for p in manifest["parts"]) == 100
    back = spark.read.schema("doc_id long, source string, n_chars long").json(out)
    assert back.count() == 100
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # abort path: temp file written, then dropped; nothing promoted
    w = pyds._JsonlWriter(str(tmp_path / "aborted"))
    os.makedirs(w.path)
    msg = w.write(iter(pa.table({"a": [1, 2]}).to_batches()))
    assert os.path.exists(os.path.join(w.path, msg.tmp_name))
    w.abort([msg, None])
    assert os.listdir(w.path) == []


def test_full_outer_join_extends_both_sides(spark):
    """stream_stream_join_full: null-extension must appear on BOTH sides
    (unmatched purchases AND unmatched clicks), and the matched core must
    equal the inner-join key's output."""
    full = QUERIES["stream_stream_join_full"](spark, SF_UNIT).cache()
    n_left_null = full.filter(F.col("purchase_id").isNull()).count()
    n_right_null = full.filter(F.col("click_id").isNull()).count()
    assert n_left_null > 0, "no unmatched clicks emitted"
    assert n_right_null > 0, "no unmatched purchases emitted"
    matched = full.filter(
        F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull()
    )
    inner = QUERIES["stream_stream_join"](spark, SF_UNIT)
    assert matched.count() == inner.count()
    full.unpersist()


def test_stream_sink_commit_idempotent(spark, tmp_path):
    """Streaming-sink exactly-once: replaying a micro-batch (commit
    called twice with the same batchId — Spark does this after a crash
    between sink commit and checkpoint write) must not duplicate rows;
    a genuinely new batchId must append."""
    import json

    sink = str(tmp_path / "stream_sink")
    os.makedirs(sink)
    w = pyds._JsonlStreamWriter(sink)

    def batch_rows():
        return iter(pa.table({"a": [1, 2, 3]}).to_batches())

    w.commit([w.write(batch_rows())], batchId=0)
    files_after_first = sorted(f for f in os.listdir(sink) if f.endswith(".jsonl"))
    # replay of batch 0: temps discarded, nothing promoted
    w.commit([w.write(batch_rows())], batchId=0)
    assert sorted(f for f in os.listdir(sink) if f.endswith(".jsonl")) == files_after_first
    # new batch appends
    w.commit([w.write(batch_rows())], batchId=1)
    rows = []
    for f in sorted(os.listdir(sink)):
        if f.endswith(".jsonl"):
            rows += [json.loads(line) for line in open(os.path.join(sink, f))]
    assert sorted(r["a"] for r in rows) == [1, 1, 2, 2, 3, 3]
    assert open(os.path.join(sink, "_COMMITTED")).read().split() == ["0", "1"]


def test_stream_sink_mid_promotion_crash_no_orphans(spark, tmp_path):
    """A crash MID-promotion (some parts renamed, batchId never logged)
    followed by a replay with FEWER parts must not leave orphan
    batch-<id>-part files from the partial attempt — os.replace only
    overwrites matching indices, so without cleanup the extra parts
    would silently duplicate their rows (ADVICE r6)."""
    import json

    sink = str(tmp_path / "crash_sink")
    os.makedirs(sink)
    w = pyds._JsonlStreamWriter(sink)
    # simulate the partial attempt: two promoted parts, no _COMMITTED line
    for i, payload in enumerate(([10, 11], [12, 13])):
        with open(
            os.path.join(sink, f"batch-00000-part-{i:05d}.jsonl"), "w"
        ) as f:
            f.writelines(json.dumps({"a": v}) + "\n" for v in payload)
    # replay of batch 0 arrives with ONE part
    msg = w.write(iter(pa.table({"a": [1, 2, 3]}).to_batches()))
    w.commit([msg], batchId=0)
    rows = []
    for f in sorted(os.listdir(sink)):
        if f.endswith(".jsonl"):
            rows += [json.loads(line) for line in open(os.path.join(sink, f))]
    assert sorted(r["a"] for r in rows) == [1, 2, 3], (
        "orphan parts from the crashed attempt leaked rows"
    )
    assert open(os.path.join(sink, "_COMMITTED")).read().split() == ["0"]


def test_sink_double_roundtrip_property(spark, tmp_path):
    """Property: finite doubles survive the JSONL sink bit-exactly
    (json.dumps emits Python's shortest-roundtrip repr; Spark's JSON
    reader parses it back to the identical IEEE value) — the claim the
    sink's docstring makes for the H-checked aggregation path, pinned on
    adversarial values rather than corpus data."""
    import json
    import math
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
    )
    def roundtrip(x, i):
        line = json.dumps({"v": x, "i": i})
        back = json.loads(line)
        assert struct.pack(">d", back["v"]) == struct.pack(">d", x)
        assert back["i"] == i

    roundtrip()

    # end-to-end through the writer + Spark's JSON reader on a worst-case
    # sample (denormals, ulp-adjacent values, exact-integer doubles)
    vals = [
        5e-324, -5e-324, 1.7976931348623157e308, 0.1, 1 / 3,
        math.pi, 2.0**53, -(2.0**53) - 2, 1e-300, 123456789.123456789,
    ]
    sink = str(tmp_path / "dsink")
    os.makedirs(sink)
    w = pyds._JsonlWriter(sink)
    msg = w.write(iter(pa.table({"v": pa.array(vals, pa.float64())}).to_batches()))
    w.commit([msg])
    back = [
        r["v"]
        for r in spark.read.schema("v double").json(sink).collect()
    ]
    import struct as s2
    assert sorted(map(lambda v: s2.pack(">d", v), back)) == sorted(
        map(lambda v: s2.pack(">d", v), vals)
    )
