"""Codec unit tests — ports the reference's round-trip test
(MessageSerializerTests.java:37-49) and adds randomized + wire-structure
coverage per SURVEY.md §5 item 1.
"""

from __future__ import annotations

import json
import random
import struct

import pytest

from kafka_stream_service_spark.codec import decode_py, encode_py


def test_golden_cycle_reference_parity():
    """The reference's exact golden message: payload "World", headers
    Accept=["*/*"], Content-Type=["text/plain"]; serialize→deserialize is
    identity (MessageSerializerTests.java:37-49)."""
    headers = {"Accept": ["*/*"], "Content-Type": ["text/plain"]}
    payload = "World".encode("utf-8")
    wire = encode_py(headers, payload)
    h2, p2 = decode_py(wire)
    assert h2 == headers
    assert p2 == payload


def test_wire_structure():
    """Byte-level layout per MessageSerializer.java:42-74: 0xff marker,
    header-count byte, len-prefixed names, 4-byte BE JSON blob sizes."""
    wire = encode_py({"k": ["a", "b"]}, b"xyz")
    assert wire[0] == 0xFF
    assert wire[1] == 1  # one header
    assert wire[2] == 1  # name length
    assert wire[3:4] == b"k"
    (blob_len,) = struct.unpack(">i", wire[4:8])
    blob = wire[8 : 8 + blob_len]
    assert json.loads(blob) == ["a", "b"]
    assert wire[8 + blob_len :] == b"xyz"


def test_empty_message():
    wire = encode_py({}, b"")
    assert wire == b"\xff\x00"
    assert decode_py(wire) == ({}, b"")


def test_payload_only():
    wire = encode_py(None, b"\x00\x01\xfe\xff")
    h, p = decode_py(wire)
    assert h == {}
    assert p == b"\x00\x01\xfe\xff"


def test_bad_marker_rejected():
    """Decode asserts the 0xff start marker (MessageDeserializer.java:52)."""
    with pytest.raises(ValueError):
        decode_py(b"\x00\x01abc")


def test_limits_enforced():
    """<=127 headers, names <=127 bytes (1-byte length fields,
    MessageSerializer.java:54,59)."""
    with pytest.raises(ValueError):
        encode_py({f"h{i}": ["v"] for i in range(128)}, b"")
    with pytest.raises(ValueError):
        encode_py({"n" * 128: ["v"]}, b"")


def test_randomized_roundtrips():
    rng = random.Random(42)
    for _ in range(200):
        n_headers = rng.randint(0, 20)
        headers = {}
        for i in range(n_headers):
            name = "".join(rng.choices("abcdefghijklmnop-_", k=rng.randint(1, 30)))
            values = [
                "".join(rng.choices("abc XYZ0123/*;=,\"'é", k=rng.randint(0, 20)))
                for _ in range(rng.randint(0, 5))
            ]
            headers[name] = values
        payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 500)))
        h2, p2 = decode_py(encode_py(headers, payload))
        assert h2 == headers
        assert p2 == payload


def test_spark_udf_roundtrip(spark):
    """The Arrow/pandas UDF path preserves the same identity on a DataFrame."""
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.codec import decode_message, encode_message, message_struct

    df = spark.createDataFrame(
        [
            (1, {"Accept": ["*/*"], "Content-Type": ["text/plain"]}, bytearray(b"World")),
            (2, {}, bytearray(b"")),
            (3, {"x": []}, bytearray(b"\x00\xff\x10")),
        ],
        "id long, headers map<string,array<string>>, payload binary",
    )
    out = (
        df.select("id", encode_message(message_struct(F.col("headers"), F.col("payload"))).alias("wire"))
        .select("id", decode_message(F.col("wire")).alias("msg"))
        .select("id", "msg.headers", "msg.payload")
        .orderBy("id")
        .collect()
    )
    assert out[0].headers == {"Accept": ["*/*"], "Content-Type": ["text/plain"]}
    assert bytes(out[0].payload) == b"World"
    assert out[1].headers == {}
    assert bytes(out[1].payload) == b""
    assert out[2].headers == {"x": []}
    assert bytes(out[2].payload) == b"\x00\xff\x10"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
    )
    _names = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=20
    ).filter(lambda s: len(s.encode("utf-8")) <= 127)

    @given(
        headers=st.dictionaries(_names, st.lists(_text, max_size=4), max_size=10),
        payload=st.binary(max_size=300),
    )
    @settings(max_examples=150, deadline=None)
    def test_property_roundtrip(headers, payload):
        """Hypothesis property: encode∘decode is identity over arbitrary
        unicode header names (≤127 utf-8 bytes), unicode value lists
        (JSON-special chars included), and arbitrary payload bytes —
        the generalized form of MessageSerializerTests.java:37-49."""
        h2, p2 = decode_py(encode_py(headers, payload))
        assert h2 == headers
        assert p2 == payload

except ImportError:  # pragma: no cover - hypothesis is baked into the env
    pass


def test_lenient_decode_property(spark):
    """Property: every frame produced by encode_py decodes cleanly
    through the lenient UDF (error NULL, round-trip intact), and every
    frame with a corrupted first byte lands in the error lane — the
    lenient decoder must never throw, only classify."""
    from hypothesis import given, settings, strategies as st

    from kafka_stream_service_spark.codec import decode_py, encode_py

    header_vals = st.lists(st.text(max_size=8), max_size=3)
    headers = st.dictionaries(
        st.text(min_size=1, max_size=16).filter(lambda s: len(s.encode()) <= 127),
        header_vals,
        max_size=5,
    )
    payloads = st.binary(max_size=64)

    @settings(max_examples=200, deadline=None)
    @given(headers, payloads)
    def roundtrip(h, p):
        wire = encode_py(h, p)
        dh, dp = decode_py(wire)
        assert dh == {k: list(v) for k, v in h.items()} and dp == p
        # corrupted marker must raise in the strict form (the lenient UDF
        # converts exactly this exception into the error lane)
        import pytest as _pytest

        with _pytest.raises(Exception):
            decode_py(b"\x00" + wire[1:])

    roundtrip()


class TestDecodePrefixCache:
    """decode_with_prefix_cache must be byte/structure-identical to
    decode_py — including frames engineered so one message's payload
    starts with bytes that LOOK like another message's header section."""

    def test_parity_over_mixed_shapes(self):
        import random

        from kafka_stream_service_spark.codec import (
            decode_py,
            decode_with_prefix_cache,
            encode_py,
        )

        rng = random.Random(7)
        shapes = [
            {},
            {"type": ["click"]},
            {"type": ["view"], "v": ["1", "2"]},
            {"a": []},
            {"unicode": ["héllo", "wörld"]},
        ]
        frames = []
        for _ in range(500):
            h = rng.choice(shapes)
            payload = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 40)))
            frames.append(encode_py(h, payload))
        # adversarial: a frame whose payload IS another frame's wire bytes
        # (so the payload starts with 0xff + a plausible header section)
        inner = encode_py({"type": ["click"]}, b"xyz")
        frames.append(encode_py({}, inner))
        frames.append(encode_py({"type": ["click"]}, inner))
        cache: dict = {}
        for f in frames:
            assert decode_with_prefix_cache(f, cache) == decode_py(f)

    def test_shared_headers_and_cache_bound(self):
        from kafka_stream_service_spark.codec import decode_with_prefix_cache, encode_py

        cache: dict = {}
        f1 = encode_py({"t": ["a"]}, b"p1")
        f2 = encode_py({"t": ["a"]}, b"p2")
        h1, p1 = decode_with_prefix_cache(f1, cache)
        h2, p2 = decode_with_prefix_cache(f2, cache)
        assert h1 is h2, "same prefix must share the cached dict (frozen contract)"
        assert (p1, p2) == (b"p1", b"p2")
        # bound: past 1024 distinct shapes the cache stops growing
        for i in range(1100):
            decode_with_prefix_cache(encode_py({"k": [str(i)]}, b"x"), cache)
        assert len(cache) == 1024

    def test_malformed_frames_raise_like_decode_py(self):
        """A frame that is truncated inside, or just past, a cached
        header section must not be served from the cache: it raises
        what decode_py raises."""
        from kafka_stream_service_spark.codec import decode_with_prefix_cache, encode_py

        good = encode_py({"t": ["a"], "u": ["b", "c"]}, b"payload")
        cache: dict = {}
        decode_with_prefix_cache(good, cache)
        end = len(good) - len(b"payload")
        assert decode_with_prefix_cache(good[:end], cache) == ({"t": ["a"], "u": ["b", "c"]}, b"")
        bad = [b"", b"\xff", b"\x00" + good[1:], good[:3], good[: end - 5], good[: end - 1]]
        bad.append(b"\xff\x01\x01t" + struct.pack(">i", -3) + b"[]")  # negative blob length
        for f in bad:
            with pytest.raises(Exception) as want:
                decode_py(f)
            with pytest.raises(want.type):
                decode_with_prefix_cache(f, cache)

    def test_encode_cache_bound(self):
        """More distinct header sets than the cache holds (a unique
        correlation id per record) through one encode cache: the cache
        stops at its limit and every frame still matches encode_py."""
        from kafka_stream_service_spark.codec import PREFIX_CACHE_MAX, encode_with_prefix_cache

        cache: dict = {}
        for i in range(PREFIX_CACHE_MAX + 500):
            h = {"id": [str(i)], "mod7": [str(i % 7 == 0)]}
            assert encode_with_prefix_cache(h, b"x", cache) == encode_py(h, b"x")
        assert len(cache) == PREFIX_CACHE_MAX

