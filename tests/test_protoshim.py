"""Vendored minimal-protobuf runtime tests (vendor/google/protobuf).

Golden wire vectors below are hand-derived from the PUBLIC protobuf
encoding spec (protobuf.dev/programming-guides/encoding) and the state
protocol's field numbers — NOT produced by the implementation under test,
so an encoder and decoder that are wrong in the same way cannot pass.
The end-to-end proof (a real transformWithStateInPandas query whose
worker speaks this runtime to the JVM state server) is the
stateful_running_agg_tws oracle row
(test_inventory.py::test_oracle_match[stateful_running_agg_tws]).
"""

from __future__ import annotations

import sys

import pytest

from sparkstreamingstateful_spark import compat
from sparkstreamingstateful_spark.compat import ensure_protobuf


@pytest.fixture(scope="module")
def sm():
    state = ensure_protobuf()
    assert state in ("native", "vendored"), state
    import pyspark.sql.streaming.proto.StateMessage_pb2 as mod

    return mod


def test_runtime_resolves():
    # native protobuf must always win when importable; the vendored shim
    # only fills a void (this container: no google package at all)
    assert ensure_protobuf() in ("native", "vendored")


def test_no_runtime_raises(monkeypatch, tmp_path):
    # neither runtime resolves: the gate must raise, not report a state a
    # caller could route around, and every TWS key must hit it before
    # building a plan (spark=None: the gate, which every TWS key reaches
    # through catalog.read_stream_events, runs before any session use;
    # the feed it reads is built from the real unit-scale tables)
    from sparkstreamingstateful_spark.streaming import queries as sq

    from .conftest import SF_UNIT

    monkeypatch.setattr(compat, "_state", None)
    monkeypatch.setattr(compat, "VENDOR_DIR", str(tmp_path))
    monkeypatch.setitem(sys.modules, "google", None)
    monkeypatch.setitem(sys.modules, "google.protobuf", None)
    match = r"vendor/google/protobuf.*transformWithStateInPandas"
    with pytest.raises(ImportError, match=match):
        ensure_protobuf()
    for key in (
        sq.stateful_sessionize_tws,
        sq.stateful_profile_tws,
        sq.stateful_running_agg_tws,
        sq.stateful_running_agg_tws_bootstrap,
    ):
        with pytest.raises(ImportError, match=match):
            key(None, SF_UNIT)


def test_golden_set_handle_state(sm):
    # StateRequest.statefulProcessorCall = field 2 (LEN) -> tag 0x12
    # StatefulProcessorCall.setHandleState = field 1 (LEN) -> tag 0x0a
    # SetHandleState.state = field 1 (VARINT) -> tag 0x08, INITIALIZED=2
    msg = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.INITIALIZED)
        )
    )
    assert msg.SerializeToString() == bytes.fromhex("12040a020802")


def test_golden_zero_enum_oneof_presence(sm):
    # PRE_INIT=0 is the enum default -> the inner varint is NOT emitted,
    # but the oneof member (setHandleState, empty payload) MUST be: the
    # JVM distinguishes "no call" from "call with default state" by the
    # presence of the length-delimited submessage record.
    msg = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.PRE_INIT)
        )
    )
    assert msg.SerializeToString() == bytes.fromhex("12020a00")
    back = sm.StateRequest()
    back.ParseFromString(bytes.fromhex("12020a00"))
    assert back.WhichOneof("method") == "statefulProcessorCall"
    assert back.statefulProcessorCall.WhichOneof("method") == "setHandleState"
    assert back.statefulProcessorCall.setHandleState.state == sm.PRE_INIT


def test_golden_negative_int64(sm):
    # int64 -1 -> 10-byte sign-extended varint: ff ff ff ff ff ff ff ff ff 01
    msg = sm.RegisterTimer(expiryTimestampMs=-1)
    assert msg.SerializeToString() == bytes.fromhex("08ffffffffffffffffff01")
    back = sm.RegisterTimer()
    back.ParseFromString(bytes.fromhex("08ffffffffffffffffff01"))
    assert back.expiryTimestampMs == -1


def test_golden_string_and_bytes(sm):
    # SetImplicitKey.key = field 1 (LEN bytes)
    msg = sm.SetImplicitKey(key=b"\x00\x01ab")
    assert msg.SerializeToString() == bytes.fromhex("0a04") + b"\x00\x01ab"
    # ListStateGet.iteratorId = field 1 (LEN utf-8)
    msg2 = sm.ListStateGet(iteratorId="it1")
    assert msg2.SerializeToString() == bytes.fromhex("0a03") + b"it1"


def test_unknown_fields_skipped(sm):
    # field 15 varint + field 14 LEN are not in StateResponse's schema;
    # a spec-compliant parser skips them and still reads statusCode=7
    payload = bytes.fromhex("7803") + bytes.fromhex("7202") + b"zz" + bytes.fromhex("0807")
    msg = sm.StateResponse()
    msg.ParseFromString(payload)
    assert msg.statusCode == 7


def test_repeated_and_bool_roundtrip(sm):
    put = sm.ListStatePut(value=[b"\x01", b"", b"abc"], fetchWithArrow=True)
    back = sm.ListStatePut()
    back.ParseFromString(put.SerializeToString())
    assert list(back.value) == [b"\x01", b"", b"abc"]
    assert back.fetchWithArrow is True
    # empty repeated + default bool serialize to nothing at all
    assert sm.ListStatePut().SerializeToString() == b""


def test_repeated_message_and_proto3_optional(sm):
    resp = sm.StateResponseWithTimer(
        statusCode=1,
        timer=[sm.TimerInfo(key=b"k", timestampMs=5), sm.TimerInfo(timestampMs=6)],
    )
    back = sm.StateResponseWithTimer()
    back.ParseFromString(resp.SerializeToString())
    assert [(t.timestampMs, t.HasField("key")) for t in back.timer] == [
        (5, True),
        (6, False),
    ]
    assert back.timer[0].key == b"k"


def test_oneof_last_wins(sm):
    req = sm.ImplicitGroupingKeyRequest(setImplicitKey=sm.SetImplicitKey(key=b"x"))
    assert req.WhichOneof("method") == "setImplicitKey"
    req2 = sm.ImplicitGroupingKeyRequest(
        setImplicitKey=sm.SetImplicitKey(key=b"x"),
    )
    # reparse a message whose wire carries BOTH members: last one wins
    both = (
        sm.ImplicitGroupingKeyRequest(setImplicitKey=sm.SetImplicitKey(key=b"x"))
        .SerializeToString()
        + sm.ImplicitGroupingKeyRequest(
            removeImplicitKey=sm.RemoveImplicitKey()
        ).SerializeToString()
    )
    req2.ParseFromString(both)
    assert req2.WhichOneof("method") == "removeImplicitKey"


def test_submessage_vivify_presence(sm):
    # the exact pyspark client pattern: attribute-chain write into ttl
    cmd = sm.StateCallCommand()
    cmd.stateName = "s"
    assert not cmd.HasField("ttl")
    _ = cmd.ttl.durationMs  # read-only access must NOT create presence
    assert not cmd.HasField("ttl")
    assert b"ttl" not in cmd.SerializeToString()  # no spurious record
    cmd.ttl.durationMs = 1234
    assert cmd.HasField("ttl")
    back = sm.StateCallCommand()
    back.ParseFromString(cmd.SerializeToString())
    assert back.HasField("ttl") and back.ttl.durationMs == 1234


def test_vivified_presence_survives_nesting(sm):
    # mutation three levels deep must mark every ancestor present
    req = sm.StateRequest()
    req.statefulProcessorCall.getValueState.stateName = "deep"
    data = req.SerializeToString()
    back = sm.StateRequest()
    back.ParseFromString(data)
    assert back.WhichOneof("method") == "statefulProcessorCall"
    assert back.statefulProcessorCall.WhichOneof("method") == "getValueState"
    assert back.statefulProcessorCall.getValueState.stateName == "deep"


def test_unsupported_schema_features_fail_loud():
    # the pool refuses field types outside the implemented subset instead
    # of mis-encoding them: hand-build a FileDescriptorProto declaring a
    # double field (type 1). Layout per descriptor.proto field numbers.
    # decide by the RESOLVED runtime, not the sys.path side effect other
    # tests leave behind (running this test in isolation on a shim-only
    # container would otherwise skip with a false "native active" reason)
    if ensure_protobuf() != "vendored":
        pytest.skip("native protobuf active; pool-gate test is shim-specific")
    from google.protobuf import descriptor_pool
    from google.protobuf.internal import wire

    def ld(num, payload):
        out = bytearray()
        wire.encode_tag(out, num, wire.LEN)
        wire.encode_varint(out, len(payload))
        out.extend(payload)
        return bytes(out)

    def vint(num, v):
        out = bytearray()
        wire.encode_tag(out, num, wire.VARINT)
        wire.encode_varint(out, v)
        return bytes(out)

    field = ld(1, b"bad") + vint(3, 1) + vint(4, 1) + vint(5, 1)  # TYPE_DOUBLE
    msg = ld(1, b"M") + ld(2, field)
    fdp = ld(1, b"x/bad.proto") + ld(2, b"pkg") + ld(4, msg)
    with pytest.raises(NotImplementedError, match="minimal runtime"):
        descriptor_pool.DescriptorPool().AddSerializedFile(fdp)


def test_repeated_parse_roundtrip(sm):
    """Repeated fields filled ONLY by parsing must re-serialize intact
    (self-consistency, not a golden vector: the r6 fix routes the
    parse-side appends through the same presence chain as the public
    mutators)."""
    # repeated bytes on the worker's hot response type
    fnum = sm.StateResponseWithListGet.DESCRIPTOR.fields_by_name["value"].number
    tag = bytes([(fnum << 3) | 2])
    payload = tag + b"\x02ab" + tag + b"\x01c"
    r = sm.StateResponseWithListGet()
    r.ParseFromString(payload)
    assert list(r.value) == [b"ab", b"c"]
    assert r.SerializeToString() == payload

    # repeated message (timer list)
    inner = sm.TimerInfo(key=b"k", timestampMs=7).SerializeToString()
    tfnum = sm.StateResponseWithTimer.DESCRIPTOR.fields_by_name["timer"].number
    tpayload = bytes([(tfnum << 3) | 2, len(inner)]) + inner
    resp = sm.StateResponseWithTimer()
    resp.MergeFromString(tpayload)
    assert len(resp.timer) == 1
    assert resp.timer[0].timestampMs == 7
    assert resp.timer[0].key == b"k"
    assert resp.SerializeToString() == tpayload


def test_nested_repeated_parse_marks_parent_presence():
    """The r6 review finding: a child vivified on a parent and populated
    ONLY through parsing repeated content must become present on the
    parent (the pre-fix list.append bypassed _notify_mutation, so the
    parent re-serialized WITHOUT the child). Also pins packed-varint
    decoding and that unpacked repeated elements APPEND rather than
    overwrite the container. Synthetic descriptors: the state proto has
    no nested-message-with-repeated pair to exercise this with."""
    if ensure_protobuf() != "vendored":
        pytest.skip("shim-internal semantics; native runtime active")
    from google.protobuf.descriptor import Descriptor, FieldDescriptor
    from google.protobuf.message import Message

    child_d = Descriptor(
        "C", "t.C",
        [FieldDescriptor("xs", 1, FieldDescriptor.TYPE_INT64,
                         FieldDescriptor.LABEL_REPEATED)],
        [], [], [],
    )
    parent_d = Descriptor(
        "P", "t.P",
        [FieldDescriptor("c", 1, FieldDescriptor.TYPE_MESSAGE,
                         FieldDescriptor.LABEL_OPTIONAL, type_name="t.C")],
        [], [], [],
    )
    parent_d.fields[0].message_type = child_d
    C = type("C", (Message,), {"DESCRIPTOR": child_d})
    child_d._concrete_class = C
    P = type("P", (Message,), {"DESCRIPTOR": parent_d})
    parent_d._concrete_class = P

    p = P()
    # packed: field 1, LEN, varints [1, 300] (300 = 0xac 0x02)
    p.c.MergeFromString(bytes([0x0A, 3, 1, 0xAC, 0x02]))
    assert list(p.c.xs) == [1, 300]
    assert p.HasField("c"), "parse-only repeated content must mark presence"
    assert p.SerializeToString() != b"", "parent must re-emit the child"
    # unpacked element appends; pre-fix code overwrote the container
    p.c.MergeFromString(bytes([0x08, 5]))
    assert list(p.c.xs) == [1, 300, 5]


def test_copyfrom_matches_wire_roundtrip(sm):
    """r19: CopyFrom became a direct field-level copy (the serialize+
    parse hop was 61% of message-construction time on the TWS hot
    path). Pin that the direct copy is byte-equivalent to the old
    wire round-trip on a message exercising every branch: nested
    submessage kwargs, oneof members, repeated fields, and presence."""
    # nested oneof chain (the state client's exact construction shape)
    get_call = sm.Get()
    vsc = sm.ValueStateCall(stateName="sess", get=get_call)
    svr = sm.StateVariableRequest(valueStateCall=vsc)
    msg = sm.StateRequest(stateVariableRequest=svr)

    via_wire = sm.StateRequest()
    via_wire.MergeFromString(msg.SerializeToString())
    via_copy = sm.StateRequest()
    via_copy.CopyFrom(msg)
    assert via_copy.SerializeToString() == via_wire.SerializeToString()
    assert via_copy == msg
    # presence propagated: the copied oneof member is active
    assert via_copy.WhichOneof("method") == msg.WhichOneof("method")

    # mutating the copy must not leak into the source (deep copy)
    via_copy.stateVariableRequest.valueStateCall.stateName = "other"
    assert msg.stateVariableRequest.valueStateCall.stateName == "sess"

    # repeated bytes (AppendList carries repeated value payloads)
    ap = sm.AppendList(value=[b"a", b"bb"], fetchWithArrow=False)
    cp = sm.AppendList()
    cp.CopyFrom(ap)
    assert cp.SerializeToString() == ap.SerializeToString()
    assert list(cp.value) == [b"a", b"bb"]

    # copied-into message with a LISTENER still propagates presence up
    outer = sm.ListStateCall(stateName="closed_starts")
    outer.appendList.CopyFrom(ap)  # vivified child + CopyFrom
    assert outer.HasField("appendList")
    rt = sm.ListStateCall()
    rt.MergeFromString(outer.SerializeToString())
    assert rt.SerializeToString() == outer.SerializeToString()


def test_copyfrom_self_keeps_message(sm):
    # x.CopyFrom(x) is a no-op in the real runtime; clearing before the
    # copy would wipe the source and the destination at once
    msg = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(
            valueStateCall=sm.ValueStateCall(stateName="sess", get=sm.Get())
        )
    )
    wire = msg.SerializeToString()
    msg.CopyFrom(msg)
    assert wire and msg.SerializeToString() == wire
    assert msg.stateVariableRequest.valueStateCall.stateName == "sess"
