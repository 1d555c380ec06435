"""Spec-golden and property tests for the pure-Python protobuf wire
codec (functions/proto_codec.py) against byte strings derived by hand
from https://protobuf.dev/programming-guides/encoding/."""

from __future__ import annotations

import pytest

from kafka_stream_service_spark.functions.proto_codec import (
    decode_order,
    decode_varint,
    encode_order,
    encode_varint,
    tag,
    zigzag_decode,
    zigzag_encode,
)


def test_varint_goldens():
    # spec examples: 1 -> 01, 150 -> 9601, 300 -> ac02
    assert encode_varint(0) == b"\x00"
    assert encode_varint(1) == b"\x01"
    assert encode_varint(127) == b"\x7f"
    assert encode_varint(150) == b"\x96\x01"
    assert encode_varint(300) == b"\xac\x02"
    assert encode_varint((1 << 64) - 1) == b"\xff" * 9 + b"\x01"


def test_varint_roundtrip_and_errors():
    for n in (0, 1, 127, 128, 300, 2**21, 2**35 - 1, 2**63):
        buf = encode_varint(n)
        val, pos = decode_varint(buf, 0)
        assert (val, pos) == (n, len(buf))
    with pytest.raises(ValueError):
        decode_varint(b"\x80", 0)  # truncated continuation
    with pytest.raises(ValueError):
        encode_varint(-1)


def test_varint_past_64_bits_raises():
    assert decode_varint(b"\xff" * 9 + b"\x01", 0) == ((1 << 64) - 1, 10)
    with pytest.raises(ValueError, match="64 bits"):
        decode_varint(b"\xff" * 9 + b"\x02", 0)
    with pytest.raises(ValueError, match="10 bytes"):
        decode_varint(b"\xff" * 10 + b"\x01", 0)


def test_zigzag_goldens():
    # spec table: 0->0, -1->1, 1->2, -2->3, 2147483647->4294967294
    assert zigzag_encode(0) == 0
    assert zigzag_encode(-1) == 1
    assert zigzag_encode(1) == 2
    assert zigzag_encode(-2) == 3
    assert zigzag_encode(2147483647) == 4294967294
    for n in (-(2**40), -3, -1, 0, 1, 5, 2**40):
        assert zigzag_decode(zigzag_encode(n)) == n


def test_tag_bytes():
    # field 1 varint -> 0x08; field 2 len -> 0x12 (spec's classic examples)
    assert tag(1, 0) == b"\x08"
    assert tag(2, 2) == b"\x12"


def test_order_message_golden():
    """Hand-assembled wire bytes for a known record."""
    buf = encode_order(150, "F", 300, "1-URGENT")
    want = (
        b"\x08\x96\x01"  # field1 varint 150
        b"\x12\x01F"  # field2 len=1 "F"
        b"\x18\xd8\x04"  # field3 zigzag(300)=600 -> d8 04
        b"\x22\x08" + b"1-URGENT"  # field4 len=8
    )
    assert buf == want
    assert decode_order(buf) == {
        "order_id": 150,
        "status": "F",
        "total_cents": 300,
        "priority": "1-URGENT",
    }


def test_decode_skips_unknown_fields():
    """proto3 forward compatibility: unknown varint and len fields are
    skipped, known fields still decode."""
    extra = b"\x28\x2a"  # field 5 varint 42 (unknown)
    extra2 = b"\x32\x03abc"  # field 6 len "abc" (unknown)
    buf = extra + encode_order(7, "O", -5, "LOW") + extra2
    dec = decode_order(buf)
    assert dec == {"order_id": 7, "status": "O", "total_cents": -5, "priority": "LOW"}


def test_decode_truncated_raises():
    buf = encode_order(7, "O", 5, "LOW")
    with pytest.raises(ValueError):
        decode_order(buf[:-1])
