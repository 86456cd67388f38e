"""Protobuf wire codec (codec_protobuf_roundtrip) edge cases the corpus
can't exercise: negative int64s (10-byte varints through to_signed),
proto3 zero-default omission, and the by-path vendor wire loader."""

from pyspark.sql import functions as F


def test_codec_negative_and_default_roundtrip(spark):
    """Negative ids must survive the two's-complement varint path and
    zero-valued scalars must round-trip through proto3 implicit presence
    (omitted on the wire, restored by decoder defaults)."""
    from sparkstreamingstateful_spark.operators.codecs import (
        _decode_event_batches,
        _encode_event_batches,
    )

    df = spark.createDataFrame(
        [
            (-1, -(1 << 62), "late", -2.5, -123456789),
            (0, 0, "", 0.0, 0),  # all-default message: only field 9 on wire
            (7, 42, "purchase", 1.5, 1_700_000_000_000_000),
        ],
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    blobs = df.mapInArrow(_encode_event_batches, "blob binary, n_msgs long")
    back = blobs.mapInArrow(
        _decode_event_batches,
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    rows = sorted(back.collect(), key=lambda r: r["event_id"])
    assert [tuple(r) for r in rows] == [
        (-1, -(1 << 62), "late", -2.5, -123456789),
        (0, 0, "", 0.0, 0),
        (7, 42, "purchase", 1.5, 1_700_000_000_000_000),
    ]


def test_codec_wire_fallback_loader():
    """The codec's one wire resolution, a by-path load of the vendored
    file (a real protobuf install has no ``internal.wire``), must yield a
    working wire module whichever runtime owns ``google.protobuf``."""
    from sparkstreamingstateful_spark.operators.codecs import _load_wire

    wire = _load_wire()
    buf = bytearray()
    wire.encode_varint(buf, -5)  # negatives mask to 64-bit → 10 bytes
    assert len(buf) == 10
    v, pos = wire.decode_varint(bytes(buf), 0)
    assert pos == 10 and wire.to_signed(v, 64) == -5


def test_codec_all_default_message_is_tiny(spark):
    """Implicit presence must actually shrink the wire: a fully-default
    row encodes to just the forward-compat probe field (2 bytes) plus its
    length prefix — pinning that the encoder doesn't serialize zeros."""
    from sparkstreamingstateful_spark.operators.codecs import _encode_event_batches

    df = spark.createDataFrame(
        [(0, 0, "", 0.0, 0)],
        "event_id long, user_id long, event_type string, value double, ts_us long",
    )
    blob = df.mapInArrow(_encode_event_batches, "blob binary, n_msgs long").collect()
    assert len(blob) == 1 and blob[0]["n_msgs"] == 1
    # varint len (1 byte: value 2) + tag(field 9, VARINT) + varint 0
    assert blob[0]["blob"] == bytes([2, 0x48, 0x00])


def test_avro_wire_bytes_match_spec():
    """No independent Avro implementation exists in this container, so
    the writer is pinned against BYTES DERIVED BY HAND from the public
    spec: zigzag(1)=0x02, zigzag(-1)=0x01, strings length-prefixed,
    doubles IEEE little-endian, zigzag(300)=varint(600)=d8 04 — plus
    container framing (magic, metadata map, sync, block count/size)."""
    import struct

    from sparkstreamingstateful_spark.operators.codecs import (
        _AVRO_MAGIC,
        _AVRO_SCHEMA,
        _AVRO_SYNC,
        _avro_read_long,
        write_avro_container,
    )

    path = "/tmp/sss_avro_spec_pin.avro"
    cols = {
        "event_id": [1],
        "user_id": [-1],
        "event_type": ["ab"],
        "value": [1.5],
        "ts_us": [300],
    }
    write_avro_container(path, cols, 1)
    data = open(path, "rb").read()
    assert data[:4] == _AVRO_MAGIC
    # hand-rolled expected row body per the spec
    row = b"\x02" + b"\x01" + b"\x04ab" + struct.pack("<d", 1.5) + b"\xd8\x04"
    # locate the data block: after metadata map + first sync
    i = data.index(_AVRO_SYNC) + 16
    n_rows, i = _avro_read_long(data, i)
    n_bytes, i = _avro_read_long(data, i)
    assert (n_rows, n_bytes) == (1, len(row))
    assert data[i : i + len(row)] == row
    assert data[i + len(row) : i + len(row) + 16] == _AVRO_SYNC
    assert data.endswith(_AVRO_SYNC)
    # metadata map carries the schema and the null codec
    assert _AVRO_SCHEMA.encode() in data and b"null" in data


def test_avro_reader_rejects_corruption(spark):
    """Loud failure contract: a flipped sync marker and a foreign codec
    must raise, never silently mis-parse."""
    import pytest

    from sparkstreamingstateful_spark.operators.codecs import (
        _AVRO_SYNC,
        _decode_avro_batches,
        write_avro_container,
    )

    path = "/tmp/sss_avro_corrupt.avro"
    cols = {
        "event_id": [7],
        "user_id": [8],
        "event_type": ["x"],
        "value": [2.0],
        "ts_us": [9],
    }
    write_avro_container(path, cols, 1)
    good = open(path, "rb").read()

    import pyarrow as pa

    def run(blob):
        batch = pa.record_batch([pa.array([blob], pa.binary())], names=["content"])
        return list(_decode_avro_batches(iter([batch])))

    out = run(good)
    assert out[0].column(0).to_pylist() == [7]
    bad_sync = good[:-16] + bytes(16)  # corrupt the trailing sync
    with pytest.raises(ValueError, match="sync"):
        run(bad_sync)
    bad_codec = good.replace(b"\x08null", b"\x0edeflate")
    with pytest.raises((NotImplementedError, ValueError)):
        run(bad_codec)
