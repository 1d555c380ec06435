"""Oracle-checked codec round-trip (reference parity through the driver).

Builds a Message per document (headers = {lang: [...], source: [...]},
payload = utf-8 text), encodes to the reference wire format, decodes back,
and surfaces the recovered fields. The oracle is simply the original
columns — so a hash match proves encode->decode is lossless end-to-end
through the Arrow/pandas UDF path, the Spark analog of the reference's
round-trip test (MessageSerializerTests.java:37-49).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..codec import decode_message, encode_message, message_struct
from ..tables import tables
from .registry import query


@query(
    "q_codec_roundtrip",
    oracle="""
    SELECT doc_id, lang AS hdr_lang, source AS hdr_source, text AS payload_text,
           length(text) AS payload_len
    FROM documents
    WHERE doc_id % 10 = 0
    """,
    tags=("codec", "reference-parity"),
)
def q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode_message -> decode_message identity over real rows.

    The slice is corpus-proportional (10% of documents), so the Arrow
    codec lane gets the cpu_fanout treatment like the DLQ row: without
    it the single-file fixture serializes both crossings onto one core
    (no-op at production scan widths)."""
    from ..operators.ranks import cpu_fanout

    d = cpu_fanout(
        tables(spark, sf_dir)["documents"].filter(F.col("doc_id") % 10 == 0)
    )
    headers = F.create_map(
        F.lit("lang"), F.array(F.col("lang")),
        F.lit("source"), F.array(F.col("source")),
    )
    msg = message_struct(headers, F.encode(F.col("text"), "utf-8"))
    encoded = d.select("doc_id", encode_message(msg).alias("wire"))
    decoded = encoded.select("doc_id", decode_message(F.col("wire")).alias("msg"))
    return decoded.select(
        "doc_id",
        F.element_at(F.col("msg.headers"), "lang").getItem(0).alias("hdr_lang"),
        F.element_at(F.col("msg.headers"), "source").getItem(0).alias("hdr_source"),
        F.decode(F.col("msg.payload"), "utf-8").alias("payload_text"),
        F.length(F.decode(F.col("msg.payload"), "utf-8")).alias("payload_len"),
    )


@query(
    "q_codec_dlq_split",
    oracle="""
    SELECT 'good' AS lane, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mod7
    FROM events WHERE event_id % 101 != 0
    UNION ALL
    SELECT 'dead', CAST((SELECT COUNT(*) FROM events WHERE event_id % 101 = 0) AS BIGINT),
           CAST(0 AS BIGINT)
    """,
    tags=("codec", "dlq", "robustness"),
)
def q_codec_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison-message routing, driver-verified: every event is framed
    through the wire codec, then frames for event_id % 101 == 0 are
    CORRUPTED (0xff marker flipped) before the lenient pipeline runs.
    The dead-letter lane must receive exactly the corrupted frames and
    the good lane everything else, decoded intact (the mod-7 probe
    counts a header-derived value on the good lane, proving the decode
    ran rather than just counting rows).
    """
    from ..operators.ranks import cpu_fanout
    from ..pipeline import run_pipeline_with_dlq
    from ..transform import identity_function

    # The wire codec is a CPU-bound Arrow lane: fan the scan out to
    # cluster width when the fixture under-splits (one small file = one
    # task = four single-core Python crossings, the r13 13 s row); a
    # no-op on production-sized inputs.
    ev = cpu_fanout(tables(spark, sf_dir)["events"])
    headers = F.create_map(
        F.lit("id"), F.array(F.col("event_id").cast("string")),
        F.lit("mod7"), F.array((F.col("event_id") % 7 == 0).cast("string")),
    )
    framed = ev.select(
        F.lit(None).cast("binary").alias("key"),
        encode_message(message_struct(headers, F.encode(F.col("event_type"), "utf-8"))).alias(
            "value"
        ),
        F.col("event_id"),
    )
    # corrupt every 101st frame: flip the 0xff start marker to 0x00
    corrupted = framed.select(
        "key",
        F.when(
            F.col("event_id") % 101 == 0,
            F.concat(F.lit(bytes([0x00])), F.expr("substring(value, 2, length(value))")),
        )
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out, dead = run_pipeline_with_dlq(corrupted, identity_function)
    decoded_good = out.select(decode_message(F.col("value")).alias("msg")).select(
        (F.element_at(F.col("msg.headers"), "mod7").getItem(0) == "true").alias("is7")
    )
    good_row = decoded_good.agg(
        F.lit("good").alias("lane"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is7").cast("bigint")).alias("n_mod7"),
    ).select("lane", "n", "n_mod7")
    dead_row = dead.agg(
        F.lit("dead").alias("lane"),
        F.count(F.lit(1)).alias("n"),
        F.lit(0).cast("bigint").alias("n_mod7"),
    ).select("lane", "n", "n_mod7")
    return good_row.unionAll(dead_row)
