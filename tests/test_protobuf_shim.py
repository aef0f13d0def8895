"""The vendored mini protobuf runtime (vendor/google/protobuf) — wire-level
pins. The end-to-end proof is stream_tws_dedup's oracle (the JVM's REAL
protobuf parses every request the shim serializes and vice versa, across
two micro-batches of state-server traffic); these tests pin the pieces
cheaply and byte-exactly so a codec regression fails here, not in a
20-second streaming run.
"""

from __future__ import annotations

import pytest

from mini_project_big_data_analysis_spark.vendor import enable_protobuf_shim


@pytest.fixture(scope="module", autouse=True)
def _shim():
    assert enable_protobuf_shim()


def _sm():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


def test_known_wire_bytes():
    """Byte-exact against the protobuf spec, hand-derived: StateRequest
    {version=2, statefulProcessorCall{setHandleState{state=CREATED}}} =
    field1 varint 2, field2 LEN{field1 LEN{field1 varint 1}}."""
    sm = _sm()
    req = sm.StateRequest(
        version=2,
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.CREATED)
        ),
    )
    assert req.SerializeToString() == bytes.fromhex("080212040a020801")


def test_proto3_default_elision_and_empty_oneof_arm():
    """Proto3 presence rules: a scalar at its default serializes to nothing;
    an EMPTY message set on a oneof arm still serializes (tag + len 0) —
    that arm marker is how ValueStateCall(get=Get()) tells the JVM which
    method was called."""
    sm = _sm()
    assert sm.StateResponse(statusCode=0, errorMessage="").SerializeToString() == b""
    call = sm.ValueStateCall(stateName="s", get=sm.Get())
    data = call.SerializeToString()
    # field1 "s" + field3 empty message
    assert data == bytes.fromhex("0a01731a00")
    back = sm.ValueStateCall()
    back.ParseFromString(data)
    assert back.WhichOneof("method") == "get"
    assert back.stateName == "s"


def test_oneof_last_writer_wins():
    sm = _sm()
    req = sm.StateVariableRequest(valueStateCall=sm.ValueStateCall(stateName="a"))
    req.listStateCall = sm.ListStateCall(stateName="b")
    assert req.WhichOneof("method") == "listStateCall"
    back = sm.StateVariableRequest()
    back.ParseFromString(req.SerializeToString())
    assert back.WhichOneof("method") == "listStateCall"
    assert back.listStateCall.stateName == "b"


def test_repeated_bytes_and_messages_roundtrip():
    sm = _sm()
    put = sm.ListStatePut(value=[b"\x00\x01", b"", b"xyz"], fetchWithArrow=True)
    back = sm.ListStatePut()
    back.ParseFromString(put.SerializeToString())
    assert back.value == [b"\x00\x01", b"", b"xyz"]
    assert back.fetchWithArrow is True

    resp = sm.StateResponseWithMapIterator(
        statusCode=0,
        kvPair=[
            sm.KeyAndValuePair(key=b"k1", value=b"v1"),
            sm.KeyAndValuePair(key=b"k2"),
        ],
        requireNextFetch=False,
    )
    back2 = sm.StateResponseWithMapIterator()
    back2.ParseFromString(resp.SerializeToString())
    assert [(p.key, p.value) for p in back2.kvPair] == [(b"k1", b"v1"), (b"k2", b"")]


def test_proto3_optional_presence():
    """TimerInfo.key is proto3-optional: presence is tracked (HasField),
    and an unset key reads as the b'' default without serializing."""
    sm = _sm()
    with_key = sm.TimerInfo(key=b"k", timestampMs=123)
    without = sm.TimerInfo(timestampMs=5)
    w = sm.TimerInfo()
    w.ParseFromString(with_key.SerializeToString())
    wo = sm.TimerInfo()
    wo.ParseFromString(without.SerializeToString())
    assert w.HasField("key") and w.key == b"k" and w.timestampMs == 123
    assert not wo.HasField("key") and wo.key == b"" and wo.timestampMs == 5


def test_negative_and_large_varints():
    """int32/int64 negatives are 10-byte two's-complement varints; int64
    covers the full 63-bit range (timestampMs at epoch scale)."""
    sm = _sm()
    for v in (-1, -2147483648):
        r = sm.StateResponse(statusCode=v)
        back = sm.StateResponse()
        back.ParseFromString(r.SerializeToString())
        assert back.statusCode == v
    for v in (-1, 2**62, -(2**62)):
        t = sm.RegisterTimer(expiryTimestampMs=v)
        back2 = sm.RegisterTimer()
        back2.ParseFromString(t.SerializeToString())
        assert back2.expiryTimestampMs == v


def test_unknown_fields_are_skipped():
    """Forward compatibility: a response carrying a field this runtime's
    descriptor doesn't know (here: number 15, both varint and LEN wire
    types) parses cleanly and keeps the known fields."""
    sm = _sm()
    known = sm.StateResponse(statusCode=7, value=b"v").SerializeToString()
    unknown = bytes.fromhex("7803") + bytes.fromhex("7a0161")  # 15:varint, 15:len
    back = sm.StateResponse()
    back.ParseFromString(known + unknown)
    assert back.statusCode == 7 and back.value == b"v"


def test_enum_constants_module_level():
    sm = _sm()
    assert sm.PRE_INIT == 0
    assert sm.CREATED == 1
    assert sm.CLOSED == 5
    assert sm.HandleState.Value("INITIALIZED") == 2
    assert sm.HandleState.Name(3) == "DATA_PROCESSED"


def test_real_distribution_wins_and_env_propagates(spark):
    """The shim only APPENDS to sys.path (a real protobuf install shadows
    it) and leaves the process environment alone; the workers get it from
    ``session.provision``, which puts its dir on the session's worker
    PYTHONPATH exactly once, and only when the driver resolved the shim."""
    import os
    import sys

    import google.protobuf as pb

    from mini_project_big_data_analysis_spark import vendor
    from mini_project_big_data_analysis_spark.session import provision

    env_before = os.environ.get("PYTHONPATH")
    enable_protobuf_shim()
    n_path = sys.path.count(vendor._VENDOR_DIR)
    assert n_path <= 1
    enable_protobuf_shim()
    assert sys.path.count(vendor._VENDOR_DIR) == n_path
    assert os.environ.get("PYTHONPATH") == env_before

    provision(provision(spark))
    parts = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    shimmed = pb.__file__.startswith(vendor._VENDOR_DIR)
    assert parts.count(vendor._VENDOR_DIR) == int(shimmed)
