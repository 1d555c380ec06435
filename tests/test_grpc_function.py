"""Tests for the riff function-gRPC protocol (grpc_function.py).

The protobuf wire codec is pure Python; the live bidirectional call over
a real TCP hop is tested in ``test_h2grpc.py``.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_stream_service_spark.grpc_function import (
    pb_decode_message,
    pb_encode_message,
)


def test_pb_golden_wire_bytes():
    """Hand-computed proto3 wire bytes for a known Message — pins the
    encoding against the public spec, not just our own round-trip:
    payload is field 1 (tag 0x0A), each headers map entry is field 2
    (tag 0x12) wrapping key (1) and HeaderValue (2) whose values repeat
    as field 1."""
    wire = pb_encode_message({"k": ["a", "bc"]}, b"\x01\x02")
    expected = bytes(
        [
            0x0A, 0x02, 0x01, 0x02,  # payload: field 1, len 2
            0x12, 0x0C,  # map entry: field 2, len 12
            0x0A, 0x01, ord("k"),  # key: field 1, "k"
            0x12, 0x07,  # HeaderValue: field 2, len 7
            0x0A, 0x01, ord("a"),  # values[0] = "a"
            0x0A, 0x02, ord("b"), ord("c"),  # values[1] = "bc"
        ]
    )
    assert wire == expected
    assert pb_decode_message(expected) == ({"k": ["a", "bc"]}, b"\x01\x02")


def test_pb_empty_message_is_empty_bytes():
    # proto3: default-valued fields are omitted entirely
    assert pb_encode_message({}, b"") == b""
    assert pb_encode_message(None, None) == b""
    assert pb_decode_message(b"") == ({}, b"")


def test_pb_unknown_fields_skipped():
    # a future server may add fields; decoder must skip varint/len/fixed
    wire = pb_encode_message({"h": ["v"]}, b"xyz")
    extra = bytes([0x18, 0x2A])  # field 3, varint 42
    extra += bytes([0x25, 1, 2, 3, 4])  # field 4, fixed32
    extra += bytes([0x2A, 0x02, 0xFF, 0xFE])  # field 5, len-delimited
    headers, payload = pb_decode_message(wire + extra)
    assert headers == {"h": ["v"]}
    assert payload == b"xyz"


@pytest.mark.parametrize(
    "wire",
    [
        # payload declared 5 bytes, 2 present
        b"\x0a\x05ab",
        # payload declared 200 bytes (two-byte length varint), 100 present
        b"\x0a\xc8\x01" + b"x" * 100,
        # map entry declared 9 bytes, 3 present
        b"\x12\x09\x0a\x01k",
        # key declared 4 bytes inside a 3-byte map entry
        b"\x12\x03\x0a\x04k",
        # header value declared 5 bytes, holding 1: "v"
        b"\x12\x08\x0a\x01k\x12\x03\x0a\x05v",
        # HeaderValue field declared 4 bytes inside a 3-byte map entry
        b"\x12\x03\x12\x04\x0a",
        # a value tag with no length byte left
        b"\x12\x06\x0a\x01k\x12\x01\x0a",
    ],
    ids=["payload", "payload-long", "map-entry", "key", "header-value", "value-list",
         "varint"],
)
def test_pb_truncated_field_raises(wire):
    """A length-delimited field that runs past its enclosing bytes is an
    error, not a short slice."""
    with pytest.raises(ValueError, match="truncated"):
        pb_decode_message(wire)


def test_pb_long_fields_use_multibyte_lengths():
    """Fields of 128 bytes or more take the general varint path on both
    sides; the wire is the hand-computed one."""
    payload = b"p" * 300
    wire = pb_encode_message({"k": ["v" * 130]}, payload)
    value_field = b"\x0a\x82\x01" + b"v" * 130
    header_value = b"\x12\x85\x01" + value_field
    entry = b"\x0a\x01k" + header_value
    assert wire == b"\x0a\xac\x02" + payload + b"\x12\x8b\x01" + entry
    assert pb_decode_message(wire) == ({"k": ["v" * 130]}, payload)


@settings(max_examples=200, deadline=None)
@given(
    headers=st.dictionaries(
        st.text(min_size=0, max_size=20),
        st.lists(st.text(max_size=50), max_size=4),
        max_size=5,
    ),
    payload=st.binary(max_size=500),
)
def test_pb_roundtrip_property(headers, payload):
    got_h, got_p = pb_decode_message(pb_encode_message(headers, payload))
    # proto3 cannot distinguish absent from empty: an entry with no values
    # under an empty key decodes as the default entry
    expect = dict(headers)
    assert got_p == payload
    assert got_h == expect
