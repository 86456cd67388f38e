"""Wire-format codec operators (SURVEY.md §2.1 ingest surface).

The sandbox ships neither the spark-protobuf jar nor a network to fetch
it, so the JVM ``from_protobuf``/``to_protobuf`` column functions are
environment-blocked (recorded honestly since r7). What IS closable
offline is the wire level: the repo already vendors a clean-room protobuf
runtime (vendor/google/protobuf, built from the public encoding spec at
protobuf.dev/programming-guides/encoding) for the transformWithState
state-server protocol — this module reuses its wire primitives to run a
full encode→decode protobuf round trip through Spark, H-checked per row
against the source table. A deployment with the jar would swap the
mapInArrow stages for ``to_protobuf``/``from_protobuf`` columns; the
framing produced here (varint-length-delimited proto3 messages) is
exactly what Kafka/stream consumers hand those functions.

Scale posture: the codec is two narrow ``mapInArrow`` stages — encode
packs each incoming Arrow batch into ONE delimited blob row, decode
unpacks blob rows batch-parallel — so the whole round trip is
scan → mapInArrow → mapInArrow with ZERO shuffles; blobs stay on the
partitions that produced them. Per-row Python exists only inside the
Arrow batch loop (the irreducible cost of a byte-level codec without the
jar; Arrow moves the columns in bulk either way).
"""

from __future__ import annotations

import importlib.util
import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import cache_dir, fill_once, load_table, read_stream_feed
from ..compat import VENDOR_DIR
from ..registry import query

# Proto3 message shape for one event (field numbers are the contract the
# oracle-checked round trip pins):
#   1 event_id  int64  VARINT     2 user_id  int64  VARINT
#   3 event_type string LEN       4 value    double I64
#   5 ts_us     int64  VARINT     9 <extra>  int64  VARINT (decoder skips)
# Field 9 is deliberately UNKNOWN to the decoder: proto3 readers must
# skip fields they don't know (forward compatibility), and encoding one
# proves skip_field runs on the hot path, not just in unit tests.


def _load_wire():
    """Load the vendored wire module by path, on the driver or a worker.

    A real protobuf install has no ``internal.wire`` and may own the
    ``google.protobuf`` import, so the file is never imported by package
    name; it imports only ``__future__``, so the by-path load serves
    either runtime."""
    path = os.path.join(VENDOR_DIR, "google", "protobuf", "internal", "wire.py")
    spec = importlib.util.spec_from_file_location("sss_vendor_wire", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # type: ignore[union-attr]
    return mod


def _encode_delimited(wire, cols: dict, n: int) -> bytes:
    """Encode ``n`` event rows (columnar dict of python lists) into one
    varint-length-delimited proto3 blob — shared by the batch key's
    mapInArrow stage and the streaming key's driver-side feed builder,
    so the two wire layouts can never drift."""
    pack_d = struct.Struct("<d").pack
    out = bytearray()
    for i in range(n):
        msg = bytearray()
        # proto3 implicit presence: zero-valued scalars are omitted
        # (the decoder's defaults restore them — round-trip exact).
        eid = cols["event_id"][i]
        if eid:
            wire.encode_tag(msg, 1, wire.VARINT)
            wire.encode_varint(msg, eid)
        uid = cols["user_id"][i]
        if uid:
            wire.encode_tag(msg, 2, wire.VARINT)
            wire.encode_varint(msg, uid)
        et = cols["event_type"][i]
        if et:
            wire.encode_len(msg, 3, et.encode("utf-8"))
        val = cols["value"][i]
        if val != 0.0:
            wire.encode_tag(msg, 4, wire.I64)
            msg += pack_d(val)
        ts = cols["ts_us"][i]
        if ts:
            wire.encode_tag(msg, 5, wire.VARINT)
            wire.encode_varint(msg, ts)
        # forward-compat probe: a field this repo's decoder never
        # learned — it must be skipped, not break framing
        wire.encode_tag(msg, 9, wire.VARINT)
        wire.encode_varint(msg, eid % 7)
        wire.encode_varint(out, len(msg))
        out += msg
    return bytes(out)


def _encode_event_batches(it):
    import pyarrow as pa

    wire = _load_wire()
    for batch in it:
        cols = {n: batch.column(i).to_pylist() for i, n in enumerate(batch.schema.names)}
        n = batch.num_rows
        blob = _encode_delimited(wire, cols, n)
        yield pa.record_batch(
            [pa.array([blob], pa.binary()), pa.array([n], pa.int64())],
            names=["blob", "n_msgs"],
        )


def _decode_event_batches(it):
    import pyarrow as pa

    wire = _load_wire()
    unpack_d = struct.Struct("<d").unpack_from
    for batch in it:
        ids, users, types, vals, tss = [], [], [], [], []
        for blob in batch.column(0).to_pylist():
            pos, total = 0, len(blob)
            while pos < total:
                mlen, pos = wire.decode_varint(blob, pos)
                end = pos + mlen
                eid = uid = ts = 0
                et, val = "", 0.0
                while pos < end:
                    num, wt, pos = wire.decode_tag(blob, pos)
                    if num == 1 and wt == wire.VARINT:
                        v, pos = wire.decode_varint(blob, pos)
                        eid = wire.to_signed(v, 64)
                    elif num == 2 and wt == wire.VARINT:
                        v, pos = wire.decode_varint(blob, pos)
                        uid = wire.to_signed(v, 64)
                    elif num == 3 and wt == wire.LEN:
                        ln, pos = wire.decode_varint(blob, pos)
                        et = bytes(blob[pos : pos + ln]).decode("utf-8")
                        pos += ln
                    elif num == 4 and wt == wire.I64:
                        val = unpack_d(blob, pos)[0]
                        pos += 8
                    elif num == 5 and wt == wire.VARINT:
                        v, pos = wire.decode_varint(blob, pos)
                        ts = wire.to_signed(v, 64)
                    else:
                        pos = wire.skip_field(blob, pos, wt)
                ids.append(eid)
                users.append(uid)
                types.append(et)
                vals.append(val)
                tss.append(ts)
        yield pa.record_batch(
            [
                pa.array(ids, pa.int64()),
                pa.array(users, pa.int64()),
                pa.array(types, pa.string()),
                pa.array(vals, pa.float64()),
                pa.array(tss, pa.int64()),
            ],
            names=["event_id", "user_id", "event_type", "value", "ts_us"],
        )


@query(
    "codec_protobuf_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM events
    """,
)
def codec_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format round trip over the events table: every row
    is encoded as a proto3 message (varint ints, LEN string, I64 double,
    implicit presence — zero values omitted and restored by decoder
    defaults), messages are varint-length-delimited into one blob per
    Arrow batch, and a second mapInArrow stage parses the blobs back to
    typed rows. The encoder also writes a field number the decoder has
    never seen, so unknown-field skipping (proto3 forward compatibility)
    runs on every message. The H-check compares the decoded rows
    PER ROW against the source table — any framing slip, varint
    mis-decode, sign error, or dropped field shifts the hash. Doubles
    survive exactly (IEEE-754 bytes on the wire); ts travels as epoch
    micros, matching the oracle's epoch_us.

    Null contract: the events table carries no NULLs (all six columns
    fully populated at every shipped SF); proto3 scalars cannot express
    NULL, so a nullable source would need wrapper/optional fields —
    out of scope for this wire-level key and stated rather than hidden.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    blobs = ev.mapInArrow(_encode_event_batches, "blob binary, n_msgs long")
    return blobs.mapInArrow(
        _decode_event_batches,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )


# ---------------------------------------------------------- streaming decode
def _events_columns(sf_dir: str) -> dict[str, list]:
    """events.parquet as plain Python column lists, with ``ts`` as epoch
    micros (``ts_us``) under the catalog's unit duality: raw int64 ts
    columns are NANOS, timestamp columns cast exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = t.column("ts")
    if pa.types.is_integer(ts.type):
        ts_us = [v // 1000 for v in ts.to_pylist()]
    else:
        ts_us = ts.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    cols = {
        c: t.column(c).to_pylist()
        for c in ("event_id", "user_id", "event_type", "value")
    }
    return {**cols, "ts_us": ts_us}


def _proto_blob_feed(sf_dir: str) -> str:
    """Chunked protobuf-blob feed for the streaming decode key, written
    by the feeder's one writer: the events table sliced at the feeder's
    cut (``feeder.cut_bounds``), each chunk encoded driver-side into
    ONE delimited proto3 blob row — exactly the shape a Kafka topic hands
    a consumer (one binary value per record batch), replayed as one
    micro-batch per file."""
    import pyarrow as pa

    from ..streaming.feeder import cached_feed, cut_bounds, events_num_rows

    bounds = cut_bounds(events_num_rows(sf_dir))

    def build() -> list[pa.Table]:
        wire = _load_wire()
        cols = _events_columns(sf_dir)
        tables = []
        for lo, hi in bounds:
            chunk = {k: v[lo:hi] for k, v in cols.items()}
            blob = _encode_delimited(wire, chunk, hi - lo)
            tables.append(
                pa.table(
                    {
                        "blob": pa.array([blob], pa.binary()),
                        "n_msgs": pa.array([hi - lo], pa.int64()),
                    }
                )
            )
        return tables

    return cached_feed(f"sss_protoblobs_k{len(bounds)}", sf_dir, "events", build)


@query(
    "stream_codec_protobuf",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_codec_protobuf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING protobuf ingest (S8 × ST): a file stream of delimited
    proto3 blobs — the Kafka-value shape, one blob per micro-batch — is
    decoded IN-STREAM by the same mapInArrow stage the batch key uses,
    then aggregated per event_type across micro-batches in complete
    mode. The H-check pins the decoded stream against a batch oracle
    over the source table: a framing slip at a chunk boundary, a batch
    lost to the decode stage, or replayed rows all shift the counts.
    With the spark-protobuf jar this stage would be
    ``from_protobuf(value)`` on a Kafka source; the framing, micro-batch
    flow, and state semantics are identical.

    Scale: the decode rides the stream's existing partition parallelism
    (no extra shuffle before the agg's own exchange), and complete-mode
    state is one row per event_type — O(groups), not O(rows)."""
    from ..streaming.runner import run_stream

    feed = _proto_blob_feed(sf_dir)
    blobs = read_stream_feed(spark, "blob binary, n_msgs long", feed)
    rows = blobs.mapInArrow(
        _decode_event_batches,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    agg = rows.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_stream(agg, output_mode="complete")


# ------------------------------------------------------------- avro wire
# The spark-avro jar is absent (recorded in SURVEY §2.1), but — like the
# protobuf keys above — the WIRE level is a pure public spec
# (avro.apache.org/docs/current/specification: zigzag-varint longs,
# little-endian doubles, length-prefixed strings, 'Obj\x01' container
# framing with per-block counts and sync markers). This clean-room
# reader/writer pair covers Avro ingest end-to-end without the jar; a
# deployment with spark-avro would swap the mapInArrow parse for
# ``format("avro")`` over the same files — these ARE valid null-codec
# Avro containers.

_AVRO_MAGIC = b"Obj\x01"
_AVRO_SYNC = bytes(range(16))  # fixed sync marker (any 16 bytes are legal)
_AVRO_SCHEMA = (
    '{"type":"record","name":"Event","fields":['
    '{"name":"event_id","type":"long"},'
    '{"name":"user_id","type":"long"},'
    '{"name":"event_type","type":"string"},'
    '{"name":"value","type":"double"},'
    '{"name":"ts_us","type":"long"}]}'
)
_AVRO_BLOCK_ROWS = 1000


def _avro_zigzag(out: bytearray, n: int) -> None:
    """Avro long: zigzag then base-128 varint (public spec)."""
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _avro_read_long(data: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return (result >> 1) ^ -(result & 1), pos
        shift += 7


def write_avro_container(path: str, cols: dict, n: int) -> None:
    """Write ``n`` event rows as a valid null-codec Avro container file
    (magic, metadata map with schema+codec, sync, row blocks)."""
    pack_d = struct.Struct("<d").pack
    out = bytearray(_AVRO_MAGIC)
    # file metadata map: one block of 2 entries, then the 0 terminator
    _avro_zigzag(out, 2)
    for k, v in (
        ("avro.schema", _AVRO_SCHEMA.encode()),
        ("avro.codec", b"null"),
    ):
        _avro_zigzag(out, len(k))
        out += k.encode()
        _avro_zigzag(out, len(v))
        out += v
    _avro_zigzag(out, 0)
    out += _AVRO_SYNC
    for lo in range(0, n, _AVRO_BLOCK_ROWS):
        hi = min(lo + _AVRO_BLOCK_ROWS, n)
        block = bytearray()
        for i in range(lo, hi):
            _avro_zigzag(block, cols["event_id"][i])
            _avro_zigzag(block, cols["user_id"][i])
            et = cols["event_type"][i].encode("utf-8")
            _avro_zigzag(block, len(et))
            block += et
            block += pack_d(cols["value"][i])
            _avro_zigzag(block, cols["ts_us"][i])
        _avro_zigzag(out, hi - lo)
        _avro_zigzag(out, len(block))
        out += block
        out += _AVRO_SYNC
    with open(path, "wb") as f:
        f.write(bytes(out))


def _decode_avro_batches(it):
    """mapInArrow stage over a binaryFile scan: parse whole Avro
    container files FROM BYTES ALONE — magic, metadata map (the embedded
    writer schema must equal the expected one, codec must be null; both
    enforced loudly, never guessed), sync-marker integrity per block."""
    import json

    import pyarrow as pa

    unpack_d = struct.Struct("<d").unpack_from
    for batch in it:
        names = batch.schema.names
        content = batch.column(names.index("content"))
        ids, users, types, vals, tss = [], [], [], [], []
        for data in content.to_pylist():
            if data[:4] != _AVRO_MAGIC:
                raise ValueError("not an Avro container: bad magic")
            pos = 4
            meta = {}
            while True:
                cnt, pos = _avro_read_long(data, pos)
                if cnt == 0:
                    break
                if cnt < 0:  # negative count: abs(count) preceded by size
                    cnt = -cnt
                    _, pos = _avro_read_long(data, pos)
                for _ in range(cnt):
                    kl, pos = _avro_read_long(data, pos)
                    k = data[pos : pos + kl].decode()
                    pos += kl
                    vl, pos = _avro_read_long(data, pos)
                    meta[k] = data[pos : pos + vl]
                    pos += vl
            codec = meta.get("avro.codec", b"null")
            if codec != b"null":
                raise NotImplementedError(f"avro codec {codec!r} not supported")
            if json.loads(meta["avro.schema"]) != json.loads(_AVRO_SCHEMA):
                raise ValueError("writer schema differs from expected schema")
            sync = data[pos : pos + 16]
            pos += 16
            total = len(data)
            while pos < total:
                n_rows, pos = _avro_read_long(data, pos)
                n_bytes, pos = _avro_read_long(data, pos)
                end = pos + n_bytes
                for _ in range(n_rows):
                    v, pos = _avro_read_long(data, pos)
                    ids.append(v)
                    v, pos = _avro_read_long(data, pos)
                    users.append(v)
                    ln, pos = _avro_read_long(data, pos)
                    types.append(bytes(data[pos : pos + ln]).decode("utf-8"))
                    pos += ln
                    vals.append(unpack_d(data, pos)[0])
                    pos += 8
                    v, pos = _avro_read_long(data, pos)
                    tss.append(v)
                if pos != end:
                    raise ValueError("avro block over/under-read")
                if data[pos : pos + 16] != sync:
                    raise ValueError("avro sync marker mismatch")
                pos += 16
        yield pa.record_batch(
            [
                pa.array(ids, pa.int64()),
                pa.array(users, pa.int64()),
                pa.array(types, pa.string()),
                pa.array(vals, pa.float64()),
                pa.array(tss, pa.int64()),
            ],
            names=["event_id", "user_id", "event_type", "value", "ts_us"],
        )


def _avro_layout(sf_dir: str) -> str:
    """events as a directory of null-codec Avro container files (one per
    chunk of the feeder's cut, multi-block), cached per content
    fingerprint and K."""
    from ..streaming.feeder import cut_bounds, events_num_rows

    bounds = cut_bounds(events_num_rows(sf_dir))
    out = cache_dir(f"sss_avro_k{len(bounds)}", sf_dir, "events")

    def fill() -> None:
        cols = _events_columns(sf_dir)
        for i, (lo, hi) in enumerate(bounds):
            chunk = {k: v[lo:hi] for k, v in cols.items()}
            write_avro_container(
                os.path.join(out, f"{i:04d}.avro"), chunk, hi - lo
            )

    fill_once(out, fill)
    return out


@query(
    "codec_avro_container",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us
    FROM events
    """,
)
def codec_avro_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container ingest at the WIRE level (the jar-blocked S-row's
    offline-closable half, protobuf-key symmetry): events written as
    genuine null-codec Avro container files — 'Obj\\x01' magic, metadata
    map carrying the writer schema + codec, 16-byte sync markers,
    multi-block row framing, zigzag-varint longs, IEEE-LE doubles,
    length-prefixed strings — then ingested via Spark's ``binaryFile``
    source (the standard whole-file ingest path) and parsed from bytes
    alone in a mapInArrow stage that verifies magic, codec, embedded
    writer schema, per-block byte accounting, and every sync marker.
    The H-check compares the decoded rows PER ROW against the source
    table — a zigzag slip, block mis-framing, or sync drift hash-fails.
    With spark-avro present the parse stage becomes ``format("avro")``
    over the very same files.

    Scale: binaryFile parallelizes per file (an Avro lake is many
    files), the parse is one narrow Arrow stage, zero shuffles; block
    framing means constant memory per block even for huge files."""
    feed = _avro_layout(sf_dir)
    files = spark.read.format("binaryFile").load(feed + "/*.avro")
    return files.select("content").mapInArrow(
        _decode_avro_batches,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
