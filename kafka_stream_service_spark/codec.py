"""The reference Message framing codec, Spark-native.

Wire format (re-derived from the reference's behavior —
MessageDeserializer.java:49-70 / MessageSerializer.java:42-74, see
SURVEY.md §1.2):

    byte 0        : 0xff start marker
    byte 1        : header count (signed byte => <= 127 headers)
    per header    : 1 length byte, name bytes (<= 127),
                    4-byte big-endian value-blob length,
                    value blob = JSON array of strings (UTF-8)
    rest          : opaque payload bytes

The spine's body (pipeline.py) calls the prefix-cached pair
`decode_with_prefix_cache` / `encode_with_prefix_cache` per record inside
its one Arrow-batched map; `encode_message` / `decode_message` wrap the
same pair as pandas UDFs for queries that frame a column outside the
spine. The pure-Python `encode_py` / `decode_py` pair is the single source
of truth and what the unit tests golden-check against the reference's
round-trip test (MessageSerializerTests.java:37-49).
"""

from __future__ import annotations

import json
import struct
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import MESSAGE_SCHEMA

__all__ = ["encode_py", "decode_py", "encode_message", "decode_message"]


def encode_py(headers: dict[str, list[str]] | None, payload: bytes | None) -> bytes:
    """Message -> wire bytes (mirror of MessageSerializer.java:42-74)."""
    headers = headers or {}
    payload = payload or b""
    if len(headers) > 127:
        raise ValueError(f"too many headers ({len(headers)} > 127)")
    out = bytearray()
    out.append(0xFF)
    out.append(len(headers))
    for name, values in headers.items():
        name_b = name.encode("utf-8")
        if len(name_b) > 127:
            raise ValueError(f"header name too long ({len(name_b)} > 127): {name!r}")
        blob = _dump_header_blob(tuple(values))
        out.append(len(name_b))
        out += name_b
        out += struct.pack(">i", len(blob))
        out += blob
    out += payload
    return bytes(out)


# Header blobs repeat heavily in real streams (a handful of header shapes
# across millions of records), so the JSON work — the per-record hot cost
# on both sides of the codec — is memoized. Keys are hashable (tuples /
# bytes); the caches are per-python-worker.
@lru_cache(maxsize=4096)
def _dump_header_blob(values: tuple) -> bytes:
    # JSON array of strings, compact separators (no spaces) to match the
    # reference's Gson output
    return json.dumps(list(values), separators=(",", ":"), ensure_ascii=False).encode("utf-8")


@lru_cache(maxsize=4096)
def _parse_header_blob(blob: bytes) -> tuple:
    return tuple(str(v) for v in json.loads(blob.decode("utf-8")))


def decode_py(data: bytes) -> tuple[dict[str, list[str]], bytes]:
    """Wire bytes -> (headers, payload) (mirror of MessageDeserializer.java:49-70)."""
    if not data or data[0] != 0xFF:
        raise ValueError("bad wire format: missing 0xff start marker")
    n_headers = data[1]
    pos = 2
    headers: dict[str, list[str]] = {}
    for _ in range(n_headers):
        name_len = data[pos]
        pos += 1
        name = data[pos : pos + name_len].decode("utf-8")
        pos += name_len
        (blob_len,) = struct.unpack(">i", data[pos : pos + 4])
        pos += 4
        headers[name] = list(_parse_header_blob(bytes(data[pos : pos + blob_len])))
        pos += blob_len
    return headers, data[pos:]


# Each prefix cache holds at most this many header shapes; past it, new
# shapes are still coded, just not memoized, so a stream whose every
# record carries a unique header (a correlation id) keeps the cache — and
# the Python worker — at a fixed size for the life of a task.
PREFIX_CACHE_MAX = 1024


def _prefix_len(data: bytes) -> int:
    """Length of the marker + header section, found by walking the
    length fields alone (no UTF-8 or JSON work)."""
    pos = 2
    for _ in range(data[1]):
        pos += 1 + data[pos]
        pos += 4 + int.from_bytes(data[pos : pos + 4], "big", signed=True)
    return pos


def decode_with_prefix_cache(data: bytes, cache: dict) -> tuple[dict[str, list[str]], bytes]:
    """Decode one message, memoizing parsed headers per distinct wire
    PREFIX (marker + header section) — the decode-side mirror of
    ``encode_with_prefix_cache``. Real streams carry a handful of header
    shapes across millions of records; after the first full parse of a
    shape, every later frame with the same prefix decodes as a walk over
    the length fields, one dict lookup and a payload slice. A miss costs
    the same walk on top of ``decode_py``.

    Safety: the walk reads only bytes inside the prefix it delimits, so
    a frame whose walked prefix equals a cached one starts with it, and
    a full parse would reproduce exactly that prefix's headers and
    payload offset. A malformed frame never matches: only prefixes that
    ``decode_py`` parsed are cached, and it raises its own error.
    The returned dict is SHARED across frames with the same prefix:
    callers must treat it as frozen (see ``transform.MessageFunction``).
    """
    if data[:1] == b"\xff":
        try:
            n = _prefix_len(data)
        except IndexError:  # truncated header section
            n = -1
        hdrs = cache.get(data[:n]) if 0 < n <= len(data) else None
        if hdrs is not None:
            return hdrs, data[n:]
    h, p = decode_py(data)
    if len(cache) < PREFIX_CACHE_MAX:
        cache[data[: len(data) - len(p)]] = h
    return h, p


def encode_with_prefix_cache(headers, payload, cache: dict) -> bytes:
    """Encode one message, memoizing the wire prefix (marker + header
    section) per distinct header set — the prefix is a pure function of
    the headers, which repeat across records, so only the payload concat
    runs per record. SINGLE implementation shared by the
    `encode_message` UDF and the pipeline body, so both emit the same
    bytes for the same message. Bounded like the decode cache."""
    key = tuple((k, tuple(v)) for k, v in (headers or {}).items())
    prefix = cache.get(key)
    if prefix is None:
        prefix = encode_py(headers, b"")
        if len(cache) < PREFIX_CACHE_MAX:
            cache[key] = prefix
    return prefix + (bytes(payload) if payload is not None else b"")


@F.pandas_udf(T.BinaryType())
def encode_message(msg: pd.DataFrame) -> pd.Series:
    """struct<headers map<string,array<string>>, payload binary> -> binary."""
    cache: dict[tuple, bytes] = {}
    return pd.Series(
        [encode_with_prefix_cache(h, p, cache) for h, p in zip(msg["headers"], msg["payload"])]
    )


@F.pandas_udf(MESSAGE_SCHEMA)
def decode_message(value: pd.Series) -> pd.DataFrame:
    """binary (wire format) -> struct<headers, payload>."""
    cache: dict[bytes, dict] = {}
    headers, payloads = [], []
    for data in value:
        h, p = decode_with_prefix_cache(bytes(data), cache)
        headers.append(h)
        payloads.append(p)
    return pd.DataFrame({"headers": headers, "payload": payloads})


def message_struct(headers: Column, payload: Column) -> Column:
    """Build a Message struct column from headers + payload columns."""
    return F.struct(headers.alias("headers"), payload.alias("payload"))
