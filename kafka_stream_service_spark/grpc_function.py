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
(de)serializers to ``h2grpc.H2GrpcChannel.stream_stream``.

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
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _write_len_field(out: bytearray, field_no: int, payload: bytes) -> None:
    _write_varint(out, (field_no << 3) | _WIRE_LEN)
    _write_varint(out, len(payload))
    out += payload


def _encode_header_value(values: list[str]) -> bytes:
    out = bytearray()
    for v in values:
        _write_len_field(out, 1, v.encode("utf-8"))
    return bytes(out)


def pb_encode_message(headers: dict[str, list[str]] | None, payload: bytes | None) -> bytes:
    """riff ``function.Message`` -> proto3 wire bytes.

    proto3 semantics: empty payload / no headers encode to nothing (fields
    at default are omitted); map entries are emitted in dict insertion
    order (the map order is semantically irrelevant but deterministic
    here).
    """
    out = bytearray()
    if payload:
        _write_len_field(out, 1, bytes(payload))
    for name, values in (headers or {}).items():
        entry = bytearray()
        key_b = name.encode("utf-8")
        if key_b:
            _write_len_field(entry, 1, key_b)
        hv = _encode_header_value(list(values))
        if hv:
            _write_len_field(entry, 2, hv)
        _write_len_field(out, 2, bytes(entry))
    return bytes(out)


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


def _decode_header_value(data: bytes) -> list[str]:
    values: list[str] = []
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        field_no, wire_type = tag >> 3, tag & 7
        if field_no == 1 and wire_type == _WIRE_LEN:
            n, pos = _read_varint(data, pos)
            values.append(data[pos : pos + n].decode("utf-8"))
            pos += n
        else:
            pos = _skip_field(data, pos, wire_type)
    return values


def _decode_map_entry(data: bytes) -> tuple[str, list[str]]:
    key, values = "", []
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        field_no, wire_type = tag >> 3, tag & 7
        if field_no == 1 and wire_type == _WIRE_LEN:
            n, pos = _read_varint(data, pos)
            key = data[pos : pos + n].decode("utf-8")
            pos += n
        elif field_no == 2 and wire_type == _WIRE_LEN:
            n, pos = _read_varint(data, pos)
            values = _decode_header_value(data[pos : pos + n])
            pos += n
        else:
            pos = _skip_field(data, pos, wire_type)
    return key, values


def pb_decode_message(data: bytes) -> tuple[dict[str, list[str]], bytes]:
    """proto3 wire bytes -> (headers, payload); unknown fields skipped
    (forward-compatible, per proto3 spec)."""
    headers: dict[str, list[str]] = {}
    payload = b""
    pos = 0
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        field_no, wire_type = tag >> 3, tag & 7
        if field_no == 1 and wire_type == _WIRE_LEN:
            n, pos = _read_varint(data, pos)
            payload = bytes(data[pos : pos + n])
            pos += n
        elif field_no == 2 and wire_type == _WIRE_LEN:
            n, pos = _read_varint(data, pos)
            key, values = _decode_map_entry(data[pos : pos + n])
            headers[key] = values
            pos += n
        else:
            pos = _skip_field(data, pos, wire_type)
    return headers, payload


def call_stream(
    channel,
    messages: Iterable[tuple[dict[str, list[str]], bytes]],
    timeout: float | None = None,
) -> Iterator[tuple[dict[str, list[str]], bytes]]:
    """Stream (headers, payload) messages through the bidirectional
    ``/function.MessageFunction/Call`` and yield responses in stream order
    (the protocol's only correlation mechanism — 1-in-1-out).

    ``channel`` is an ``h2grpc.H2GrpcChannel``; its ``stream_stream``
    multicallable plus the hand-rolled codec above means no generated
    protobuf classes are required.
    """
    multicallable = channel.stream_stream(
        GRPC_METHOD,
        request_serializer=lambda m: pb_encode_message(m[0], m[1]),
        response_deserializer=pb_decode_message,
    )
    for headers, payload in multicallable(iter(messages), timeout=timeout):
        yield headers, payload
