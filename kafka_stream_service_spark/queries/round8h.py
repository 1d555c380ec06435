"""Round-8 operator batch 8: span-corruption masking layout (T5-style
pretraining objective prep) and output-shard manifest planning — two
dataset-PRODUCTION steps downstream of everything the cleaning tiers
keep.

Family placement: span corruption is the objective-construction step
between the cleaned corpus and the trainer (which positions become
sentinel spans), deterministic like every sampler in this repo;
the shard manifest is the "write the training dataset as N balanced
shards" planning step next to q_compaction_bin_packing (which packs by
key ranges for lakehouse scans — shards here are hash-assigned for
loader parallelism, and the audit is about balance, not clustering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .dedup2 import _h_sql, portable_hash64
from .registry import query

# ---------------------------------------------------------------------------
# T5-style span-corruption mask layout
# ---------------------------------------------------------------------------

_SPAN_START_MOD = 20  # ~1/20 start probability
_SPAN_LEN = 3  # tokens per started span (overlaps merge)
_SPAN_SEED = 91


@query(
    "q_span_corruption_masking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
             CAST(len(t.ws) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
           unnest(range(1, len(t.ws) + 1)) AS u(i)
    ),
    starts AS (
      SELECT doc_id, pos, n_tokens
      FROM toks
      WHERE {_h_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)",
                    str(_SPAN_SEED))} % {_SPAN_START_MOD} = 0
    ),
    masked AS (  -- span cover, overlaps merged by DISTINCT position
      SELECT DISTINCT t.doc_id, t.pos, t.n_tokens
      FROM toks t JOIN starts s
        ON s.doc_id = t.doc_id
       AND t.pos BETWEEN s.pos AND s.pos + {_SPAN_LEN - 1}
    ),
    islands AS (  -- maximal masked runs = sentinel spans
      SELECT doc_id, n_tokens,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM masked
    ),
    per_doc AS (
      SELECT doc_id, n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_masked,
             CAST(COUNT(DISTINCT isl) AS BIGINT) AS n_spans
      FROM islands GROUP BY doc_id, n_tokens
    ),
    alld AS (SELECT DISTINCT doc_id, n_tokens FROM toks)
    SELECT a.doc_id, a.n_tokens,
           COALESCE(p.n_masked, 0) AS n_masked,
           COALESCE(p.n_spans, 0) AS n_spans,
           CAST(COALESCE(p.n_masked, 0) * 1000000 // a.n_tokens AS BIGINT)
             AS mask_ratio_q6
    FROM alld a LEFT JOIN per_doc p ON p.doc_id = a.doc_id
    """,
    tags=("llm-data", "pretraining", "masking", "round8"),
)
def q_span_corruption_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask LAYOUT (Raffel et al. 2020): each
    token position starts a {_SPAN_LEN}-token corruption span with
    probability 1/{_SPAN_START_MOD}, decided by portable hash of
    (doc_id, position) — RNG-free, so the pretraining objective is
    reproducible across runs and engines. Overlapping spans merge
    (DISTINCT position cover), and the per-document layout reports the
    merged sentinel-span count (gaps-and-islands over masked positions),
    masked-token count, and the realized corruption ratio in integer
    millionths (expected ~{_SPAN_LEN * 100 // _SPAN_START_MOD}%). Docs
    drawing zero spans are kept with zero counts — dropping them would
    bias the corpus toward corruption.

    Scale shape: one position explode, a doc-local interval join
    (fan-out bounded by span length), one islands window PER DOC
    partition, one groupBy — all partitioned by doc_id, no global
    stage anywhere.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = barrier(d.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    ), "reuse")  # both sides of the span cover join
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    starts = toks.filter(portable_hash64(key, _SPAN_SEED) % _SPAN_START_MOD == 0).select(
        "doc_id", F.col("pos").alias("spos")
    )
    masked = (
        toks.join(starts, "doc_id")
        .filter(
            (F.col("pos") >= F.col("spos"))
            & (F.col("pos") <= F.col("spos") + _SPAN_LEN - 1)
        )
        .select("doc_id", "pos", "n_tokens")
        .distinct()
    )
    wi = Window.partitionBy("doc_id").orderBy("pos")
    islands = masked.withColumn("isl", F.col("pos") - F.row_number().over(wi))
    per_doc = islands.groupBy("doc_id", "n_tokens").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_masked"),
        F.countDistinct("isl").cast("bigint").alias("n_spans"),
    )
    alld = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens")
    )
    return alld.join(per_doc, ["doc_id", "n_tokens"], "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_masked"), F.lit(0).cast("bigint")).alias("n_masked"),
        F.coalesce(F.col("n_spans"), F.lit(0).cast("bigint")).alias("n_spans"),
        F.expr("COALESCE(n_masked, 0) * 1000000 DIV n_tokens")
        .cast("bigint")
        .alias("mask_ratio_q6"),
    )


# ---------------------------------------------------------------------------
# Output-shard manifest (hash assignment + balance audit)
# ---------------------------------------------------------------------------

_N_SHARDS = 16
_SHARD_SEED = 92


@query(
    "q_dataset_shard_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT {_h_sql("CAST(doc_id AS VARCHAR)", str(_SHARD_SEED))} % {_N_SHARDS}
               AS shard,
             n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    shards AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM assigned GROUP BY shard
    ),
    tot AS (
      SELECT CAST(SUM(n_bytes) AS BIGINT) AS tb,
             CAST(SUM(n_tokens) AS BIGINT) AS tt
      FROM shards
    )
    SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_bytes, n_tokens,
           CAST(n_bytes * {_N_SHARDS} * 1000000 // tb AS BIGINT)
             AS bytes_balance_q6,
           CAST(n_tokens * {_N_SHARDS} * 1000000 // tt AS BIGINT)
             AS tokens_balance_q6
    FROM shards CROSS JOIN tot
    """,
    tags=("llm-data", "sharding", "manifest", "round8"),
)
def q_dataset_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-dataset SHARD MANIFEST: documents hash-assign to
    {_N_SHARDS} output shards (portable hash of doc_id — the loader-
    parallelism sharding every training pipeline writes), and the
    manifest audits each shard's document/byte/token populations plus
    its balance factor (shard load x n_shards / total, in millionths —
    1e6 = perfectly even; data loaders stall on the max). Differs from
    q_compaction_bin_packing: that packs by KEY RANGES to keep lakehouse
    zonemaps tight; this spreads by HASH to make loader shards
    independent and even.

    Scale shape: one map-side hash assignment + one groupBy to the
    {_N_SHARDS}-shard grain; totals broadcast back. The manifest is the
    plan a writer would execute with repartition(shard) — the write
    itself is covered by q_partition_overwrite.
    """
    d = tables(spark, sf_dir)["documents"]
    assigned = d.select(
        (portable_hash64(F.col("doc_id").cast("string"), _SHARD_SEED) % _N_SHARDS).alias(
            "shard"
        ),
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    shards = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_bytes"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    tot = shards.agg(
        F.sum("n_bytes").cast("bigint").alias("tb"),
        F.sum("n_tokens").cast("bigint").alias("tt"),
    )
    return shards.crossJoin(F.broadcast(tot)).select(
        F.col("shard").cast("bigint").alias("shard"),
        "n_docs",
        "n_bytes",
        "n_tokens",
        F.expr(f"n_bytes * {_N_SHARDS} * 1000000 DIV tb").cast("bigint").alias(
            "bytes_balance_q6"
        ),
        F.expr(f"n_tokens * {_N_SHARDS} * 1000000 DIV tt").cast("bigint").alias(
            "tokens_balance_q6"
        ),
    )
