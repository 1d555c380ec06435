"""The riff function-gRPC protocol, hand-rolled (reference parity for R8).

The reference streams records through a bidirectional gRPC call
(StreamsApplication.java:179-190) against the public riff function proto
(pom.xml:44-48, io.projectriff:riff-function-proto):

    package function;
    service MessageFunction { rpc Call(stream Message) returns (stream Message); }
    message Message {
        bytes payload = 1;
        map<string, HeaderValue> headers = 2;
        message HeaderValue { repeated string values = 1; }
    }

The protobuf WIRE codec for ``Message`` is implemented here by hand
(proto3 wire format is a stable public spec: varint tags,
length-delimited fields), so neither ``google.protobuf`` nor generated
classes are needed. That keeps the protocol logic pure-Python and
unit-testable anywhere; ``call_stream`` hands these functions as the
(de)serializers to ``h2grpc.H2GrpcChannel.call``.

Correlation contract: responses are correlated by stream order, exactly
one out per in (StreamsApplication.java:185-187) — ``call_stream`` yields
responses in arrival order and the caller zips them against its inputs.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

GRPC_METHOD = "/function.MessageFunction/Call"

# proto3 wire types
_WIRE_VARINT = 0
_WIRE_I64 = 1
_WIRE_LEN = 2
_WIRE_I32 = 5


def _write_varint(out: bytearray, value: int) -> None:
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        try:
            b = data[pos]
        except IndexError:
            raise ValueError("truncated protobuf varint") from None
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


# Every field of ``Message`` is length-delimited, so each one starts with
# tag 0x0a (field 1) or 0x12 (field 2). A length under 128 is one varint
# byte: these prefixes are precomputed, and longer lengths take the
# general varint path.
_PREFIX_1 = [bytes((0x0A, n)) for n in range(128)]
_PREFIX_2 = [bytes((0x12, n)) for n in range(128)]


def _len_prefix(prefixes: list[bytes], n: int) -> bytes:
    """Tag and length of a field of ``n`` bytes, for the tag of ``prefixes``."""
    if n < 128:
        return prefixes[n]
    out = bytearray(prefixes[0][:1])  # the tag byte
    _write_varint(out, n)
    return bytes(out)


def pb_encode_message(headers: dict[str, list[str]] | None, payload: bytes | None) -> bytes:
    """riff ``function.Message`` -> proto3 wire bytes.

    proto3 semantics: empty payload / no headers encode to nothing (fields
    at default are omitted); map entries are emitted in dict insertion
    order (the map order is semantically irrelevant but deterministic
    here).
    """
    parts: list[bytes] = []
    if payload:
        payload = bytes(payload)
        parts += (_len_prefix(_PREFIX_1, len(payload)), payload)
    for name, values in (headers or {}).items():
        entry: list[bytes] = []
        key_b = name.encode("utf-8")
        if key_b:
            entry += (_len_prefix(_PREFIX_1, len(key_b)), key_b)
        hv: list[bytes] = []
        for v in values:
            vb = v.encode("utf-8")
            hv += (_len_prefix(_PREFIX_1, len(vb)), vb)
        if hv:
            hv_b = b"".join(hv)
            entry += (_len_prefix(_PREFIX_2, len(hv_b)), hv_b)
        entry_b = b"".join(entry)
        parts += (_len_prefix(_PREFIX_2, len(entry_b)), entry_b)
    return b"".join(parts)


def _skip_field(data: bytes, pos: int, wire_type: int) -> int:
    if wire_type == _WIRE_VARINT:
        _, pos = _read_varint(data, pos)
        return pos
    if wire_type == _WIRE_I64:
        return pos + 8
    if wire_type == _WIRE_LEN:
        n, pos = _read_varint(data, pos)
        return pos + n
    if wire_type == _WIRE_I32:
        return pos + 4
    raise ValueError(f"unsupported wire type {wire_type}")


def _next_len_field(data: bytes, pos: int, end: int) -> tuple[int, int, int]:
    """The next field 1 or 2 of the message in ``data[pos:end]``, as
    ``(field_no, start, stop)`` of its bytes; unknown fields are skipped
    and ``(0, end, end)`` marks the end. A field that runs past ``end``
    raises ``ValueError``."""
    while pos < end:
        tag = data[pos]
        if (tag == 0x0A or tag == 0x12) and pos + 1 < end and data[pos + 1] < 0x80:
            start = pos + 2
            stop = start + data[pos + 1]
            field_no = tag >> 3
        else:
            tag, pos = _read_varint(data, pos)
            field_no, wire_type = tag >> 3, tag & 7
            if wire_type != _WIRE_LEN or field_no not in (1, 2):
                pos = _skip_field(data, pos, wire_type)
                continue
            n, start = _read_varint(data, pos)
            stop = start + n
        if stop > end:
            raise ValueError(
                f"truncated protobuf field {field_no}: {stop - start} bytes declared, "
                f"{end - start} left"
            )
        return field_no, start, stop
    return 0, end, end


def _decode_header_value(data: bytes, pos: int, end: int) -> list[str]:
    values: list[str] = []
    while pos < end:
        field_no, start, pos = _next_len_field(data, pos, end)
        if field_no == 1:
            values.append(data[start:pos].decode("utf-8"))
    return values


def _decode_map_entry(data: bytes, pos: int, end: int) -> tuple[str, list[str]]:
    key, values = "", []
    while pos < end:
        field_no, start, pos = _next_len_field(data, pos, end)
        if field_no == 1:
            key = data[start:pos].decode("utf-8")
        elif field_no == 2:
            values = _decode_header_value(data, start, pos)
    return key, values


def pb_decode_message(data: bytes) -> tuple[dict[str, list[str]], bytes]:
    """proto3 wire bytes -> (headers, payload); unknown fields skipped
    (forward-compatible, per proto3 spec). A length-delimited field that
    runs past the end of its enclosing bytes raises ``ValueError``."""
    headers: dict[str, list[str]] = {}
    payload = b""
    pos, end = 0, len(data)
    while pos < end:
        field_no, start, pos = _next_len_field(data, pos, end)
        if field_no == 1:
            payload = bytes(data[start:pos])
        elif field_no == 2:
            key, values = _decode_map_entry(data, start, pos)
            headers[key] = values
    return headers, payload


def call_stream(
    channel,
    messages: Iterable[tuple[dict[str, list[str]], bytes]],
) -> Iterator[tuple[dict[str, list[str]], bytes]]:
    """Stream (headers, payload) messages through the bidirectional
    ``/function.MessageFunction/Call`` and yield responses in stream order
    (the protocol's only correlation mechanism — 1-in-1-out).

    ``channel`` is an ``h2grpc.H2GrpcChannel``; its ``call`` plus the
    hand-rolled codec above means no generated protobuf classes are
    required.
    """
    return channel.call(
        GRPC_METHOD, messages, lambda m: pb_encode_message(m[0], m[1]), pb_decode_message
    )
