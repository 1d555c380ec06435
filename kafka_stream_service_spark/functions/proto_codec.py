"""Pure-Python Protocol Buffers wire-format codec (proto3 subset).

The reference's remote transform speaks gRPC, whose payload framing is
protobuf (``StreamsApplication.java:179-190`` exchanges protobuf
messages over the channel h2grpc.py already re-creates at the HTTP/2
layer). The ``protobuf`` package is absent in this environment, but the
wire format is a tiny public specification
(https://protobuf.dev/programming-guides/encoding/):

- varint: base-128 little-endian groups, MSB = continuation
- zigzag (sint32/64): (n << 1) ^ (n >> 63) maps signed ints to varints
- tag byte(s): varint of (field_number << 3 | wire_type)
- wire type 0 = varint, 2 = length-delimited (len varint + bytes)
- unknown fields are skippable by wire type (forward compatibility)

This module implements the encoder/decoder for a fixed test message
(an order record) plus generic varint/zigzag/tag primitives, with
spec-golden bytes pinned in tests/test_proto_codec.py. Its varint is the
package's only one: the riff ``Message`` codec (``grpc_function.py``)
and the Avro codec (``avro_codec.py``) call it too. Used by
``q_proto_roundtrip`` (queries/round7h.py) where the wire length is
ALSO recomputed column-side in both engines, so the oracle certifies
the byte-level size accounting, not just the value roundtrip.
"""

from __future__ import annotations

WIRE_VARINT = 0
WIRE_LEN = 2


def encode_varint(n: int) -> bytes:
    """Unsigned base-128 varint (n >= 0)."""
    if n < 0:
        raise ValueError("varint requires n >= 0; zigzag-encode signed values first")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Returns (value, next_pos); raises ``ValueError`` on truncation, on
    more than 10 bytes, or on a value past 64 bits."""
    result = 0
    shift = 0
    end = min(len(buf), pos + 10)
    while pos < end:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            if result >> 64:
                raise ValueError("varint value exceeds 64 bits")
            return result, pos
        shift += 7
    if shift == 70:
        raise ValueError("varint longer than 10 bytes")
    raise ValueError("truncated varint")


def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def zigzag_decode(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def tag(field_number: int, wire_type: int) -> bytes:
    return encode_varint(field_number << 3 | wire_type)


# Test message: OrderRecord
#   1: order_id    int64  (varint)
#   2: status      string (length-delimited, UTF-8)
#   3: total_cents sint64 (zigzag varint)
#   4: priority    string (length-delimited, UTF-8)
_F_ORDER_ID, _F_STATUS, _F_TOTAL, _F_PRIORITY = 1, 2, 3, 4


def encode_order(order_id: int, status: str, total_cents: int, priority: str) -> bytes:
    out = bytearray()
    out += tag(_F_ORDER_ID, WIRE_VARINT)
    out += encode_varint(order_id)
    sb = status.encode("utf-8")
    out += tag(_F_STATUS, WIRE_LEN)
    out += encode_varint(len(sb))
    out += sb
    out += tag(_F_TOTAL, WIRE_VARINT)
    out += encode_varint(zigzag_encode(total_cents))
    pb = priority.encode("utf-8")
    out += tag(_F_PRIORITY, WIRE_LEN)
    out += encode_varint(len(pb))
    out += pb
    return bytes(out)


def decode_order(buf: bytes) -> dict:
    """Decodes an OrderRecord; skips unknown fields by wire type (the
    proto3 forward-compatibility contract)."""
    fields: dict = {"order_id": 0, "status": "", "total_cents": 0, "priority": ""}
    pos = 0
    while pos < len(buf):
        key, pos = decode_varint(buf, pos)
        fnum, wtype = key >> 3, key & 0x7
        if wtype == WIRE_VARINT:
            val, pos = decode_varint(buf, pos)
            if fnum == _F_ORDER_ID:
                fields["order_id"] = val
            elif fnum == _F_TOTAL:
                fields["total_cents"] = zigzag_decode(val)
        elif wtype == WIRE_LEN:
            ln, pos = decode_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            raw = buf[pos : pos + ln]
            pos += ln
            if fnum == _F_STATUS:
                fields["status"] = raw.decode("utf-8")
            elif fnum == _F_PRIORITY:
                fields["priority"] = raw.decode("utf-8")
        else:
            raise ValueError(f"unsupported wire type {wtype}")
    return fields
