"""Explicit schema constants.

The reference's schema is fixed and implicit (hard-coded in its codec —
MessageDeserializer.java:50-69); here every schema is an explicit StructType
so batch/stream readers never infer.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- The reference `Message` model (SURVEY.md §1.1) -------------------------
# payload: opaque bytes (MessageDeserializer.java:68)
# headers: map<string, list<string>> (MessageDeserializer.java:64-65)
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("headers", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

# Kafka-shaped envelope carrying wire-encoded messages
# (key passes through undecoded and is dropped on output —
#  StreamsApplication.java:96,194)
KAFKA_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

# --- Fixture tables (FIXTURES.md; verified against parquet footers) ---------
# The date and time columns are TIMESTAMP_NTZ: the files hold parquet
# timestamps with no time zone. ``tables.load_table`` reads a table whose
# footer matches with these schemas, and tests/test_declared_schemas.py
# checks them against every fixture set on the host.
REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TABLE_SCHEMAS = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

# Small dimension tables that should always be broadcast in joins at any
# scale (region: 5 rows/sf, nation: 25 rows/sf — these do not grow with sf).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})
