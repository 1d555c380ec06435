"""Pure-Python Avro binary codec: ``to_avro`` / ``from_avro`` column
functions without the external spark-avro module.

The distro in this environment does not bundle ``spark-avro`` (documented
gap in COVERAGE.md), but the Avro wire format itself is a small public
specification (https://avro.apache.org/docs/1.11.1/specification/):

- ``long``/``int``: zigzag-encoded base-128 varint (little-endian groups)
- ``float``/``double``: IEEE-754 little-endian
- ``bytes``/``string``: long length prefix + raw bytes (UTF-8 for string)
- ``boolean``: one byte 0/1
- ``record``: field encodings concatenated in schema order (no tags)
- ``union``: long branch index + encoding of the chosen branch
- ``array``: repeated (long count, items...) blocks, 0-count terminator
- object container file: ``Obj\\x01`` magic, metadata map carrying
  ``avro.schema``/``avro.codec``, 16-byte sync marker, blocks of
  (record count, byte size, data, sync)

This module compiles an Avro JSON schema into closure-based
encoders/decoders once per executor (lru_cache), then runs them as
Arrow-batched pandas UDFs — the same shape as the wire codec in
``codec.py``: per-record Python cost amortized per Arrow batch, and the
pure-Python pair is the single source of truth that the golden unit
tests pin against spec examples.

Scale note: at 100 TB the encode/decode sits in a ``mapInPandas``-style
stage with no shuffle of its own — it pipelines into whatever the next
stage needs. The supported schema subset (records of primitives, nullable
unions, arrays, maps, enums, fixed, and the decimal / timestamp-millis /
timestamp-micros / date logical types) covers the Kafka-value use case
the external module is typically used for; unknown logical types fall
back to their base encoding per spec.
"""

from __future__ import annotations

import hashlib
import json
import struct as _struct
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .proto_codec import decode_varint, encode_varint, zigzag_decode, zigzag_encode

__all__ = [
    "compile_schema",
    "encode_record",
    "decode_record",
    "avro_spark_type",
    "to_avro",
    "from_avro",
    "write_ocf",
    "read_ocf",
]

OCF_MAGIC = b"Obj\x01"


# --------------------------------------------------------------------------
# varint / zigzag primitives (Avro spec "Binary encoding: primitive types")


def _w_long(out: bytearray, n: int) -> None:
    out += encode_varint(zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF)


def _r_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Decodes one long; ``ValueError`` on truncation or past int64."""
    z, pos = decode_varint(buf, pos)
    return zigzag_decode(z), pos


# --------------------------------------------------------------------------
# schema compilation -> (encode(out, v), decode(buf, pos) -> (v, pos))


def _compile(node):
    if isinstance(node, str):
        if node == "null":
            return (lambda out, v: None), (lambda buf, pos: (None, pos))
        if node == "boolean":
            return (
                lambda out, v: out.append(1 if v else 0),
                lambda buf, pos: (buf[pos] != 0, pos + 1),
            )
        if node in ("int", "long"):
            return _w_long, _r_long
        if node == "float":

            def ef(out, v):
                out += _struct.pack("<f", v)

            return ef, lambda buf, pos: (_struct.unpack_from("<f", buf, pos)[0], pos + 4)
        if node == "double":

            def ed(out, v):
                out += _struct.pack("<d", v)

            return ed, lambda buf, pos: (_struct.unpack_from("<d", buf, pos)[0], pos + 8)
        if node == "bytes":

            def eb(out, v):
                v = bytes(v)
                _w_long(out, len(v))
                out += v

            def db(buf, pos):
                n, pos = _r_long(buf, pos)
                return bytes(buf[pos : pos + n]), pos + n

            return eb, db
        if node == "string":

            def es(out, v):
                b = v.encode("utf-8")
                _w_long(out, len(b))
                out += b

            def ds(buf, pos):
                n, pos = _r_long(buf, pos)
                return buf[pos : pos + n].decode("utf-8"), pos + n

            return es, ds
        raise NotImplementedError(f"avro type {node!r}")

    if isinstance(node, list):  # union — only [null, T] / [T, null] supported
        if len(node) != 2 or "null" not in node:
            raise NotImplementedError(f"only nullable unions supported: {node!r}")
        null_idx = node.index("null")
        e_other, d_other = _compile(node[1 - null_idx])

        def eu(out, v):
            if v is None:
                _w_long(out, null_idx)
            else:
                _w_long(out, 1 - null_idx)
                e_other(out, v)

        def du(buf, pos):
            idx, pos = _r_long(buf, pos)
            if idx == null_idx:
                return None, pos
            return d_other(buf, pos)

        return eu, du

    lt = node.get("logicalType")
    if lt is not None:
        coder = _compile_logical(node, lt)
        if coder is not None:
            return coder
        # unknown logical types fall through to the base type, per spec
        # ("implementations must ignore unknown logical types")

    t = node["type"]
    if t == "record":
        coders = [_compile(f["type"]) for f in node["fields"]]
        names = [f["name"] for f in node["fields"]]

        def er(out, v):
            for name, (enc, _) in zip(names, coders):
                enc(out, v[name])

        def dr(buf, pos):
            rec = {}
            for name, (_, dec) in zip(names, coders):
                rec[name], pos = dec(buf, pos)
            return rec, pos

        return er, dr
    if t == "array":
        ei, di = _compile(node["items"])

        def ea(out, v):
            if v is not None and len(v):
                _w_long(out, len(v))
                for x in v:
                    ei(out, x)
            _w_long(out, 0)

        def da(buf, pos):
            items = []
            while True:
                n, pos = _r_long(buf, pos)
                if n == 0:
                    return items, pos
                if n < 0:  # block with byte-size prefix (spec-permitted)
                    _, pos = _r_long(buf, pos)
                    n = -n
                for _ in range(n):
                    x, pos = di(buf, pos)
                    items.append(x)

        return ea, da
    if t == "map":
        ei, di = _compile(node["values"])

        def em(out, v):
            if v:
                _w_long(out, len(v))
                for k, x in v.items():
                    kb = k.encode("utf-8")
                    _w_long(out, len(kb))
                    out += kb
                    ei(out, x)
            _w_long(out, 0)

        def dm(buf, pos):
            m = {}
            while True:
                n, pos = _r_long(buf, pos)
                if n == 0:
                    return m, pos
                if n < 0:
                    _, pos = _r_long(buf, pos)
                    n = -n
                for _ in range(n):
                    kn, pos = _r_long(buf, pos)
                    k = buf[pos : pos + kn].decode("utf-8")
                    pos += kn
                    m[k], pos = di(buf, pos)

        return em, dm
    if t == "enum":
        symbols = list(node["symbols"])
        index = {s: i for i, s in enumerate(symbols)}

        def ee(out, v):
            _w_long(out, index[v])

        def de(buf, pos):
            i, pos = _r_long(buf, pos)
            return symbols[i], pos

        return ee, de
    if t == "fixed":
        size = int(node["size"])

        def efx(out, v):
            v = bytes(v)
            if len(v) != size:
                raise ValueError(f"fixed size {size} != {len(v)}")
            out += v

        def dfx(buf, pos):
            return bytes(buf[pos : pos + size]), pos + size

        return efx, dfx
    # {"type": "long", ...} wrapper form
    return _compile(t)


# --------------------------------------------------------------------------
# logical types (Avro spec "Logical Types") — annotations over base types.
# Encoders accept the natural Python/pandas value (Decimal, datetime/
# pd.Timestamp, date); decoders return values Spark's pandas UDF layer
# maps onto DecimalType/TimestampType/DateType.

_EPOCH_DATE_ORD = 719163  # date(1970, 1, 1).toordinal()


def _to_micros(v) -> int:
    """datetime / pd.Timestamp / numpy datetime64 -> microseconds since
    epoch. Naive values are taken as session-UTC (the session factory
    pins spark.sql.session.timeZone=UTC)."""
    ts = pd.Timestamp(v)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return ts.value // 1000


def _compile_logical(node, lt: str):
    base = node["type"]
    if lt == "decimal" and base in ("bytes", "fixed"):
        from decimal import Decimal

        scale = int(node.get("scale", 0))
        quantum = Decimal(1).scaleb(-scale)
        fixed_size = int(node["size"]) if base == "fixed" else None

        def edec(out, v):
            unscaled = int(Decimal(v).quantize(quantum).scaleb(scale))
            if fixed_size is not None:
                out += unscaled.to_bytes(fixed_size, "big", signed=True)
                return
            nbytes = max(1, (unscaled.bit_length() + 8) // 8)  # two's complement
            _w_long(out, nbytes)
            out += unscaled.to_bytes(nbytes, "big", signed=True)

        def ddec(buf, pos):
            if fixed_size is not None:
                n = fixed_size
            else:
                n, pos = _r_long(buf, pos)
            unscaled = int.from_bytes(buf[pos : pos + n], "big", signed=True)
            return Decimal(unscaled).scaleb(-scale), pos + n

        return edec, ddec
    if lt in ("timestamp-micros", "local-timestamp-micros") and base == "long":

        def etu(out, v):
            _w_long(out, _to_micros(v))

        def dtu(buf, pos):
            us, pos = _r_long(buf, pos)
            return pd.Timestamp(us * 1000), pos

        return etu, dtu
    if lt in ("timestamp-millis", "local-timestamp-millis") and base == "long":

        def etm(out, v):
            _w_long(out, _to_micros(v) // 1000)

        def dtm(buf, pos):
            ms, pos = _r_long(buf, pos)
            return pd.Timestamp(ms * 1_000_000), pos

        return etm, dtm
    if lt == "date" and base == "int":
        from datetime import date, timedelta

        def edt(out, v):
            if not isinstance(v, date) or hasattr(v, "hour"):  # datetime-ish
                v = pd.Timestamp(v).date()
            _w_long(out, v.toordinal() - _EPOCH_DATE_ORD)

        def ddt(buf, pos):
            days, pos = _r_long(buf, pos)
            return date(1970, 1, 1) + timedelta(days=days), pos

        return edt, ddt
    # uuid (string base), time-millis/micros (int/long base): the base
    # encoding is already the faithful representation Spark uses
    return None


@lru_cache(maxsize=64)
def compile_schema(schema_json: str):
    """Compile an Avro JSON schema string to (encoder, decoder, parsed)."""
    parsed = json.loads(schema_json)
    enc, dec = _compile(parsed)
    return enc, dec, parsed


def encode_record(schema_json: str, record: dict) -> bytes:
    enc, _, _ = compile_schema(schema_json)
    out = bytearray()
    enc(out, record)
    return bytes(out)


def decode_record(schema_json: str, data: bytes) -> dict:
    _, dec, _ = compile_schema(schema_json)
    rec, _ = dec(data, 0)
    return rec


# --------------------------------------------------------------------------
# avro schema -> Spark type (for the from_avro UDF's returnType)

_PRIM_SPARK = {
    "null": T.NullType,
    "boolean": T.BooleanType,
    "int": T.IntegerType,
    "long": T.LongType,
    "float": T.FloatType,
    "double": T.DoubleType,
    "bytes": T.BinaryType,
    "string": T.StringType,
}


def avro_spark_type(node) -> T.DataType:
    if isinstance(node, str):
        return _PRIM_SPARK[node]()
    if isinstance(node, list):
        other = node[1 - node.index("null")]
        return avro_spark_type(other)
    lt = node.get("logicalType")
    if lt == "decimal":
        return T.DecimalType(int(node.get("precision", 10)), int(node.get("scale", 0)))
    if lt in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType()
    if lt in ("local-timestamp-millis", "local-timestamp-micros"):
        return T.TimestampNTZType()
    if lt == "date":
        return T.DateType()
    t = node["type"]
    if t == "record":
        return T.StructType(
            [
                T.StructField(f["name"], avro_spark_type(f["type"]), True)
                for f in node["fields"]
            ]
        )
    if t == "array":
        return T.ArrayType(avro_spark_type(node["items"]), True)
    if t == "map":
        return T.MapType(T.StringType(), avro_spark_type(node["values"]), True)
    if t == "enum":
        return T.StringType()
    if t == "fixed":
        return T.BinaryType()
    return avro_spark_type(t)


# --------------------------------------------------------------------------
# Spark column functions (the spark-avro surface)


def to_avro(data: Column, schema_json: str) -> Column:
    """struct column -> Avro-binary column (spark-avro's ``to_avro``)."""
    _, _, parsed = compile_schema(schema_json)
    names = [f["name"] for f in parsed["fields"]]

    @F.pandas_udf(T.BinaryType())
    def _enc(df: pd.DataFrame) -> pd.Series:
        enc, _, _ = compile_schema(schema_json)
        rows = df.to_dict("records")
        out = []
        for r in rows:
            # pandas surfaces SQL NULL as NaN for float-backed columns;
            # normalize to None so nullable unions encode the null branch
            rec = {k: (None if _is_na(v) else v) for k, v in r.items()}
            buf = bytearray()
            enc(buf, rec)
            out.append(bytes(buf))
        return pd.Series(out)

    return _enc(F.struct(*[data[n] for n in names]))


def from_avro(data: Column, schema_json: str) -> Column:
    """Avro-binary column -> struct column (spark-avro's ``from_avro``)."""
    spark_t = avro_spark_type(json.loads(schema_json))

    @F.pandas_udf(spark_t)
    def _dec(s: pd.Series) -> pd.DataFrame:
        _, dec, parsed = compile_schema(schema_json)
        cols = [f["name"] for f in parsed["fields"]]
        recs = []
        for b in s:
            rec, _ = dec(bytes(b), 0)
            recs.append(rec)
        return pd.DataFrame(recs, columns=cols, dtype=object)

    return _dec(data)


def _is_na(v) -> bool:
    try:
        return v is None or v != v  # NaN
    except (TypeError, ValueError):  # arrays/bytes don't compare scalar
        return False


# --------------------------------------------------------------------------
# Object container file (.avro files), null codec

def _sync_marker(schema_json: str) -> bytes:
    # deterministic per-schema marker (spec only requires 16 random-ish
    # bytes consistent within a file)
    return hashlib.md5(schema_json.encode("utf-8")).digest()


def write_ocf(schema_json: str, records: list[dict]) -> bytes:
    """Serialize records to a single-block Avro object container file."""
    enc, _, _ = compile_schema(schema_json)
    sync = _sync_marker(schema_json)
    out = bytearray(OCF_MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": b"null"}
    _w_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _w_long(out, len(kb))
        out += kb
        _w_long(out, len(v))
        out += v
    _w_long(out, 0)
    out += sync
    block = bytearray()
    for r in records:
        enc(block, r)
    _w_long(out, len(records))
    _w_long(out, len(block))
    out += block
    out += sync
    return bytes(out)


def read_ocf(blob: bytes) -> tuple[str, list[dict]]:
    """Parse an Avro object container file -> (schema_json, records)."""
    if blob[:4] != OCF_MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = _r_long(blob, pos)
        if n == 0:
            break
        if n < 0:
            _, pos = _r_long(blob, pos)
            n = -n
        for _ in range(n):
            kn, pos = _r_long(blob, pos)
            k = blob[pos : pos + kn].decode()
            pos += kn
            vn, pos = _r_long(blob, pos)
            meta[k] = blob[pos : pos + vn]
            pos += vn
    schema_json = meta["avro.schema"].decode()
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b""):
        raise NotImplementedError(f"codec {codec!r}")
    sync = blob[pos : pos + 16]
    pos += 16
    _, dec, _ = compile_schema(schema_json)
    records = []
    while pos < len(blob):
        count, pos = _r_long(blob, pos)
        size, pos = _r_long(blob, pos)
        end = pos + size
        for _ in range(count):
            rec, pos = dec(blob, pos)
            records.append(rec)
        if pos != end:
            raise ValueError("block size mismatch")
        if blob[pos : pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return schema_json, records
