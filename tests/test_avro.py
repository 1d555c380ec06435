"""Avro binary codec: golden spec examples, property roundtrips, the
object container file, and the Spark to_avro/from_avro column surface."""

from __future__ import annotations

import json
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_stream_service_spark.functions.avro_codec import (
    decode_record,
    encode_record,
    from_avro,
    read_ocf,
    to_avro,
    write_ocf,
)

REC = json.dumps(
    {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
        ],
    }
)

FULL = json.dumps(
    {
        "type": "record",
        "name": "full",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "flag", "type": "boolean"},
            {"name": "x", "type": "double"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "blob", "type": "bytes"},
            {"name": "tags", "type": {"type": "array", "items": "long"}},
            {"name": "attrs", "type": {"type": "map", "values": "string"}},
        ],
    }
)


def test_golden_spec_example():
    # The spec's own record example: {"a": 27, "b": "foo"} with fields
    # (a long, b string) encodes to 36 06 66 6f 6f
    # (https://avro.apache.org/docs/1.11.1/specification/ "Binary encoding")
    assert encode_record(REC, {"a": 27, "b": "foo"}) == b"\x36\x06foo"
    assert decode_record(REC, b"\x36\x06foo") == {"a": 27, "b": "foo"}


def test_golden_zigzag_longs():
    sch = json.dumps(
        {"type": "record", "name": "r", "fields": [{"name": "n", "type": "long"}]}
    )
    # spec table: 0->00, -1->01, 1->02, -2->03, 2->04, -64->7f, 64->80 01
    for n, b in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                 (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        assert encode_record(sch, {"n": n}) == b
        assert decode_record(sch, b) == {"n": n}


_LONG = json.dumps(
    {"type": "record", "name": "r", "fields": [{"name": "n", "type": "long"}]}
)


def test_long_past_int64_raises():
    for n in (-(2**63), 2**63 - 1):
        assert decode_record(_LONG, encode_record(_LONG, {"n": n})) == {"n": n}
    # 13 bytes, and 10 bytes whose last group carries bits past 2**64
    for wire in (b"\xff" * 12 + b"\x01", b"\xff" * 9 + b"\x7f"):
        with pytest.raises(ValueError):
            decode_record(_LONG, wire)


def test_truncated_long_raises_value_error():
    with pytest.raises(ValueError, match="truncated"):
        decode_record(_LONG, b"\x80")


def test_full_type_roundtrip_with_nulls():
    rec = {
        "id": -(2**62),
        "flag": True,
        "x": -0.5,
        "name": None,
        "blob": b"\x00\xff",
        "tags": [1, -2, 3],
        "attrs": {"k1": "v1", "k2": ""},
    }
    assert decode_record(FULL, encode_record(FULL, rec)) == rec
    rec2 = dict(rec, name="héllo", tags=[], attrs={})
    assert decode_record(FULL, encode_record(FULL, rec2)) == rec2


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    s=st.text(max_size=40),
    x=st.floats(allow_nan=False, width=64),
    arr=st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=8),
)
def test_property_roundtrip(n, s, x, arr):
    sch = json.dumps(
        {
            "type": "record",
            "name": "p",
            "fields": [
                {"name": "n", "type": "long"},
                {"name": "s", "type": ["null", "string"]},
                {"name": "x", "type": "double"},
                {"name": "arr", "type": {"type": "array", "items": "int"}},
            ],
        }
    )
    rec = {"n": n, "s": s, "x": x, "arr": arr}
    back = decode_record(sch, encode_record(sch, rec))
    assert back["n"] == n and back["s"] == s and back["arr"] == arr
    assert back["x"] == x or (math.isnan(back["x"]) and math.isnan(x))


def test_ocf_roundtrip():
    records = [{"a": i * 7 - 3, "b": f"row{i}"} for i in range(100)]
    blob = write_ocf(REC, records)
    assert blob[:4] == b"Obj\x01"
    schema_back, back = read_ocf(blob)
    assert json.loads(schema_back) == json.loads(REC)
    assert back == records


def test_ocf_rejects_garbage():
    with pytest.raises(ValueError):
        read_ocf(b"PAR1not-avro")


def test_spark_to_from_avro_roundtrip(spark):
    sch = json.dumps(
        {
            "type": "record",
            "name": "doc",
            "fields": [
                {"name": "doc_id", "type": "long"},
                {"name": "lang", "type": ["null", "string"]},
                {"name": "text", "type": ["null", "string"]},
            ],
        }
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "en", "hello world"), (2, None, None), (3, "fr", "héllo")],
        "doc_id long, lang string, text string",
    )
    enc = df.select(to_avro(F.struct("doc_id", "lang", "text"), sch).alias("value"))
    dec = enc.select(from_avro(F.col("value"), sch).alias("r")).select("r.*")
    got = {r.doc_id: (r.lang, r.text) for r in dec.collect()}
    assert got == {1: ("en", "hello world"), 2: (None, None), 3: ("fr", "héllo")}
