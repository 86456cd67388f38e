"""Network streaming sources (S3/S4): a REAL loopback socket feed run
end-to-end through a streaming aggregation, the rate source, and the
Kafka option contract (connector package absent here — the option
assembly is the testable surface)."""

from __future__ import annotations

import json
import socket
import socketserver
import threading
import time

import pytest
from pyspark.sql import functions as F

from sparkstreamingstateful_spark.sources import streams


class _LineFeeder(socketserver.ThreadingTCPServer):
    allow_reuse_address = True


def _serve_lines(lines: list[str]):
    """One-shot TCP server: feeds ``lines`` to the first client, then holds
    the connection open (Spark's socket source reads until query stop)."""
    done = threading.Event()

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            payload = ("\n".join(lines) + "\n").encode()
            self.request.sendall(payload)
            done.wait(timeout=30)

    srv = _LineFeeder(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, port, done


def test_socket_source_end_to_end(spark):
    events = [
        {"event_id": i, "ts": f"2024-01-01 00:{i:02d}:00", "user_id": i % 3,
         "event_type": "click", "value": float(i)}
        for i in range(20)
    ]
    srv, port, done = _serve_lines(streams.event_json_lines(events))
    try:
        parsed = streams.read_stream_socket_events(spark, "127.0.0.1", port)
        agg = parsed.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("socket_agg")
            .outputMode("complete")
            .start()
        )
        try:
            deadline = time.time() + 30
            rows = []
            while time.time() < deadline:
                rows = spark.table("socket_agg").collect()
                if sum(r["n"] for r in rows) >= 20:
                    break
                time.sleep(0.5)
            got = {r["user_id"]: (r["n"], r["sum_v"]) for r in rows}
            # 20 events over users 0..2: user0 7 (0,3,..18), others split
            assert sum(n for n, _ in got.values()) == 20
            assert got[0][0] == 7 and got[1][0] == 7 and got[2][0] == 6
            assert got[0][1] == sum(float(i) for i in range(20) if i % 3 == 0)
        finally:
            q.stop()
    finally:
        done.set()
        srv.shutdown()
        srv.server_close()


def test_rate_source(spark):
    df = streams.read_stream_rate(spark, rows_per_second=50, num_partitions=2)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]
    q = (
        df.writeStream.format("memory")
        .queryName("rate_probe")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_probe").count()
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0
    finally:
        q.stop()


def test_kafka_option_contract():
    opts = streams.kafka_options("broker1:9092,broker2:9092", "events")
    assert opts["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert opts["subscribe"] == "events"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "true"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    # bounded-batch knob is optional
    assert "maxOffsetsPerTrigger" not in streams.kafka_options(
        "b:9092", "t", max_offsets_per_trigger=None
    )


def test_event_json_lines_roundtrip():
    rows = [{"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 2,
             "event_type": "click", "value": 0.5}]
    [line] = streams.event_json_lines(rows)
    assert json.loads(line) == rows[0]


SF001 = "/root/testdata/sf0.001"


def test_split_feed_dirs_disjoint_union_with_sentinels():
    """chunked_events_split_dirs (ST23 substrate): the two feeds must
    partition the real events EXACTLY (disjoint, union = all event_ids)
    and EACH must carry its own sentinel — the global watermark is the
    MIN across sources, so a sentinel missing from either feed stalls
    the union topology's final windows."""
    import pyarrow.dataset as ds

    from sparkstreamingstateful_spark.streaming import feeder

    d_even, d_odd = feeder.chunked_events_split_dirs(SF001)
    tables = {}
    for name, d in (("even", d_even), ("odd", d_odd)):
        t = ds.dataset(d, format="parquet").to_table()
        rows = t.to_pydict()
        real = [
            (eid, uid)
            for eid, uid in zip(rows["event_id"], rows["user_id"])
            if uid >= 0
        ]
        sent = [uid for uid in rows["user_id"] if uid < 0]
        assert sent, f"{name} feed lost its sentinel"
        tables[name] = {eid for eid, _ in real}
    assert all(e % 2 == 0 for e in tables["even"])
    assert all(e % 2 == 1 for e in tables["odd"])
    assert not (tables["even"] & tables["odd"])

    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF001}/events.parquet")
    all_ids = set(src.column("event_id").to_pylist())
    assert tables["even"] | tables["odd"] == all_ids

    # a repeat call reuses the cached pair (test_feeds_are_fill_once_caches)
    assert feeder.chunked_events_split_dirs(SF001) == (d_even, d_odd)


def test_feeds_are_fill_once_caches():
    """Every feed is a catalog.fill_once cache under catalog.cache_dir,
    keyed by the events table's content: a complete feed holds _DONE and
    is reused as is; a dir without _DONE is a partial write and is
    rebuilt in full (a stray file does not survive)."""
    import os

    from sparkstreamingstateful_spark import catalog
    from sparkstreamingstateful_spark.streaming import feeder

    home = catalog.cache_dir("x", SF001, "events")
    tag = "_" + catalog.cache_tag(SF001, "events")
    feed = feeder.chunked_events_dir(SF001)
    for d in (feed, *feeder.chunked_events_split_dirs(SF001)):
        assert os.path.dirname(d) == os.path.dirname(home) and d.endswith(tag), d
        assert os.path.exists(os.path.join(d, "_DONE")), d

    listing = sorted(os.listdir(feed))
    os.remove(os.path.join(feed, "_DONE"))
    open(os.path.join(feed, "9999.parquet"), "w").close()
    assert feeder.chunked_events_dir(SF001) == feed
    assert sorted(os.listdir(feed)) == listing

    first = os.path.join(feed, "0000.parquet")
    ino = os.stat(first).st_ino
    assert feeder.chunked_events_dir(SF001) == feed
    assert os.stat(first).st_ino == ino


def test_xml_roundtrip_special_chars(spark, tmp_path):
    """S6j contract beyond the oracle's real data: XML entity escaping
    (& < > " ') and empty strings must survive write→read bit-exactly,
    as must shortest-roundtrip doubles."""
    from pyspark.sql import types as T

    rows = [
        (1, "a & b < c > d", 0.1),
        (2, 'quote " apos \' done', -2.5),
        (3, "", 1e-300),
        (4, "<row>not a tag</row>", 12345.678901234567),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "v"])
    out = str(tmp_path / "xml")
    df.coalesce(1).write.format("xml").option("rowTag", "row").save(out)
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).format("xml").option("rowTag", "row").load(out)
    got = sorted((r.k, r.s, r.v) for r in back.collect())
    # measured: the cycle is fully lossless — empty strings come back as
    # '' (not NULL), entities unescape exactly, doubles are bit-identical
    assert got == sorted(rows)


def test_dirty_ingest_mode_contrast(spark):
    """FAILFAST is the third parser mode (scan_json_corrupt /
    scan_csv_malformed H-check the other two): it must ABORT on the first
    malformed record, and the PERMISSIVE read must capture the raw
    offending line in the corrupt-record column."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import types as T

    from sparkstreamingstateful_spark.operators import scans

    out = scans.dirty_json_layout(spark, "/root/testdata/sf0.001")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    with pytest.raises((Py4JJavaError, Exception)) as exc:
        spark.read.schema(schema).option("mode", "FAILFAST").json(out).count()
    assert "Malformed" in str(exc.value) and "FAILFAST" in str(exc.value)

    # PERMISSIVE captures the raw line for quarantine/replay pipelines.
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt", T.StringType())]
    )
    bad = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
        .filter(F.col("_corrupt").isNotNull())
        .select("_corrupt", "o_orderkey")
        .limit(5)
        .collect()
    )
    assert bad and all(r._corrupt.startswith('{"o_orderkey{"trunc') for r in bad)
    assert all(r.o_orderkey is None for r in bad)

    # CSV FAILFAST aborts on the type-malformed field too.
    out_csv = scans.dirty_csv_layout(spark, "/root/testdata/sf0.001")
    csv_schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    # NB: .count() alone would pass — CSV count() is answered without
    # parsing any field (row-count pushdown), so FAILFAST only trips on an
    # action that materializes the typed column.
    with pytest.raises(Exception) as exc_csv:
        spark.read.schema(csv_schema).option("mode", "FAILFAST").csv(
            out_csv
        ).agg(F.sum("c_acctbal")).collect()
    # measured: MALFORMED_RECORD_IN_PARSING with "Parse Mode: FAILFAST" —
    # assert the substrings so a bad path / unrelated error can't pass
    # (ADVICE r12).
    assert "Malformed" in str(exc_csv.value) and "FAILFAST" in str(exc_csv.value)


def test_partition_overwrite_mode_contrast(spark, tmp_path):
    """The other half of write_dynamic_partition_overwrite's contract:
    under the DEFAULT static mode, an overwrite of a one-partition frame
    TRUNCATES every other partition first — the failure mode dynamic
    mode exists to prevent. Pinned on a tiny frame so the semantics, not
    the data, are the subject."""
    from sparkstreamingstateful_spark.session import conf_guard

    out = str(tmp_path / "dpo_contrast")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "v int, p string"
    )
    base.write.mode("overwrite").partitionBy("p").parquet(out)
    patch = spark.createDataFrame([(99, "a")], "v int, p string")

    with conf_guard(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        patch.write.mode("overwrite").partitionBy("p").parquet(out)
    got = {(r.v, r.p) for r in spark.read.parquet(out).collect()}
    assert got == {(99, "a"), (2, "b"), (3, "c")}, got

    with conf_guard(spark, {"spark.sql.sources.partitionOverwriteMode": "static"}):
        patch.write.mode("overwrite").partitionBy("p").parquet(out)
    got = {(r.v, r.p) for r in spark.read.parquet(out).collect()}
    assert got == {(99, "a")}, got  # static truncated b and c


def test_compaction_reduces_files(spark):
    """maintenance_compact_files' layout claim: the fragmented input has
    64 parquet files; the compacted output has at most ceil(bytes/4MiB)
    (and at least 1), each carrying the full row set between them."""
    import os

    from sparkstreamingstateful_spark.operators import scans
    from sparkstreamingstateful_spark.registry import collect

    sf = "/root/testdata/sf0.01"
    queries, _ = collect()
    queries["maintenance_compact_files"](spark, sf).count()  # build both dirs

    frag = scans.fragmented_lineitem_layout(spark, sf)
    out = scans.compact_sink_path(sf)
    n_frag = sum(f.endswith(".parquet") for f in os.listdir(frag))
    n_out = sum(f.endswith(".parquet") for f in os.listdir(out))
    total = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    expect_max = max(1, -(-total // scans._COMPACT_TARGET_BYTES))
    assert n_frag == scans._FRAG_FILES
    assert 1 <= n_out <= expect_max
    assert n_out < n_frag  # the point of the exercise
    n_src = spark.read.parquet(frag).count()
    assert spark.read.parquet(out).count() == n_src


def test_fill_once_contract(tmp_path):
    """catalog.fill_once, the one completion contract of every cached
    output: a marked dir is kept, a partial dir is wiped before the fill,
    and a fill that raises leaves no marker, so the next call refills."""
    import os

    from sparkstreamingstateful_spark.catalog import fill_once

    out = tmp_path / "cache"
    fills = []

    def fill():
        fills.append(1)
        (out / "part-0").write_text("data")

    def listing():
        return sorted(os.listdir(out))

    assert fill_once(str(out), fill)
    assert listing() == ["_DONE", "part-0"]
    # a marked dir is not refilled
    assert not fill_once(str(out), fill)
    assert len(fills) == 1
    # a partial dir holding a stray file is wiped before the fill
    (out / "_DONE").unlink()
    (out / "stray").write_text("from a dead attempt")
    assert fill_once(str(out), fill)
    assert listing() == ["_DONE", "part-0"]

    # a fill that raises leaves no marker; the next call refills
    def dies():
        (out / "half").write_text("half-written")
        raise RuntimeError("fill died")

    (out / "_DONE").unlink()
    with pytest.raises(RuntimeError, match="fill died"):
        fill_once(str(out), dies)
    assert "_DONE" not in listing()
    assert fill_once(str(out), fill)
    assert listing() == ["_DONE", "part-0"]


def test_skewed_fact_layout_wipes_partial(tmp_path, monkeypatch):
    """A real batch layout site under the same contract: a layout dir
    without its marker is a partial attempt, so a stray file in it is
    gone after the rebuild instead of being read as part of the fact."""
    import os
    import tempfile

    from sparkstreamingstateful_spark.operators import joins

    from .conftest import SF_UNIT

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = joins._skewed_fact_layout(SF_UNIT)
    assert out.startswith(str(tmp_path))
    built = sorted(os.listdir(out))
    os.remove(os.path.join(out, "_DONE"))
    with open(os.path.join(out, "9999.parquet"), "w") as f:
        f.write("stray")
    assert joins._skewed_fact_layout(SF_UNIT) == out
    assert sorted(os.listdir(out)) == built
