"""Corpus restructuring ops for training-data pipelines: RAG chunking
with overlap, boilerplate detection by document-frequency, and
segment-level exact dedup with document reconstruction.

These extend the LLM-data surface (SURVEY.md §2.2 "beyond the reference"
family) the same way the dedup/decontamination queries do: pure built-in
expressions (split / slice / explode / window), no Python in the hot
path, and exact DuckDB oracles — both engines tokenize with the same
split-on-space rule, so chunk text, hashes, and counts match bit-for-bit.

Scale notes (100 TB): chunking and segmentation are map-side only (one
explode, no shuffle until the caller aggregates); the boilerplate DF
table is vocabulary-sized (bigrams over a closed vocab) and broadcast
back to the instance stream, so the corpus itself shuffles once for the
per-doc rollup; segment dedup is the same one-shuffle keep-first
window the exact-dedup family uses, partitioned by segment text — the
canonical CCNet/RefinedWeb line-dedup shape re-expressed at segment
granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranks import cpu_fanout
from ..plans.barrier import barrier
from ..tables import tables
from .registry import query

CHUNK_TOKENS = 40
CHUNK_STRIDE = 30
SEGMENT_TOKENS = 5
BOILER_DF_FRAC = 0.05  # bigram is boilerplate when in >= 5% of documents


@query(
    "q_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT), 0) + 1)) AS chunk_id
      FROM t WHERE len(toks) > 0
    ),
    c AS (
      SELECT doc_id, chunk_id,
             array_to_string(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                                        chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk
      FROM s
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           len(string_split(chunk, ' ')) AS n_chunk_tokens,
           length(chunk) AS n_chunk_chars,
           md5(chunk) AS chunk_md5
    FROM c
    """,
    tags=("llm-data", "chunking", "rag"),
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: overlapping windows of CHUNK_TOKENS tokens at
    CHUNK_STRIDE stride (25% overlap), one output row per chunk with the
    chunk's token/char counts and content hash.

    Map-side only — tokenize, enumerate chunk starts with `sequence`,
    explode, slice. No shuffle: at 100 TB this runs at scan speed and
    the chunk stream feeds the embedding stage without a repartition.
    The hash (not the text) rides the result so the output stays narrow.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    n_chunks = (
        F.greatest(
            F.ceil((F.size(toks) - F.lit(CHUNK_TOKENS)) / F.lit(float(CHUNK_STRIDE))).cast("int"),
            F.lit(0),
        )
        + 1
    )
    c = (
        d.filter(F.size(toks) > 0)
        .select(
            "doc_id",
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.col("chunk_id") * CHUNK_STRIDE + 1,
                    CHUNK_TOKENS,
                ),
                " ",
            ).alias("chunk"),
        )
    )
    return c.select(
        "doc_id",
        "chunk_id",
        F.size(F.split(F.col("chunk"), " ")).alias("n_chunk_tokens"),
        F.length("chunk").alias("n_chunk_chars"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    )


@query(
    "q_boilerplate_bigrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    inst AS (
      SELECT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
                                   i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))) AS g
      FROM t
    ),
    df AS (
      SELECT g, COUNT(DISTINCT doc_id) AS df FROM inst GROUP BY g
    ),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    flagged AS (
      SELECT i.doc_id, i.g, (df.df >= {BOILER_DF_FRAC} * total.n_docs) AS is_boiler
      FROM inst i JOIN df ON i.g = df.g CROSS JOIN total
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(COUNT(*) FILTER (is_boiler) AS BIGINT) AS n_boiler,
           round(CAST(COUNT(*) FILTER (is_boiler) AS DOUBLE) / COUNT(*), 6) AS boiler_ratio
    FROM flagged
    GROUP BY doc_id
    """,
    tags=("llm-data", "boilerplate", "text"),
)
def q_boilerplate_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection by document frequency: a bigram occurring in
    >= 5% of documents is template text (the CCNet line-frequency rule at
    n-gram granularity); score each document by its boilerplate density.

    Scale shape: the DF table is bounded by vocabulary² (tiny vs corpus),
    so it broadcasts back onto the instance stream — the corpus text
    itself shuffles exactly once, for the per-doc rollup. The DF
    aggregation's map-side partial combine collapses each input split to
    its distinct bigrams before the exchange.
    """
    # fan the single-split fixture scan across cores before the explode
    # (no-op on many-split inputs at scale)
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    # token array in its OWN projection — referenced once inside the
    # per-position lambda, the raw split() would be inlined and re-split
    # the text per bigram position (the decontaminate O(len^2) trap)
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    # docs with < 2 tokens produce zero bigrams on both engines (the
    # oracle's range(0, greatest(n-1, 0)) is empty); filter here because
    # Spark's sequence(0, -1) would DESCEND instead of being empty
    inst = barrier(
        t.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.array_join(F.slice(F.col("w"), i + 1, 2), " "),
                )
            ).alias("g"),
        ),
        # the instance stream feeds both the DF aggregation and the
        # flag join-back; materialize the explode once (lineage
        # truncation, same discipline as q_inverted_index)
        "reuse",
    )
    df = inst.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    flags = df.crossJoin(F.broadcast(n_docs)).select(
        "g", (F.col("df") >= BOILER_DF_FRAC * F.col("n_docs")).alias("is_boiler")
    )
    return (
        inst.join(F.broadcast(flags), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("is_boiler").cast("bigint")).alias("n_boiler"),
            F.round(
                F.sum(F.col("is_boiler").cast("bigint")).cast("double") / F.count(F.lit(1)), 6
            ).alias("boiler_ratio"),
        )
    )


@query(
    "q_segment_dedup_reconstruct",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(list_slice(toks, i * {SEGMENT_TOKENS} + 1,
                                        i * {SEGMENT_TOKENS} + {SEGMENT_TOKENS}), ' ') AS seg
      FROM t, unnest(range(0, CAST(ceil(len(toks) / {SEGMENT_TOKENS}.0) AS INT))) AS u(i)
    ),
    r AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM s
    ),
    kept AS (
      SELECT doc_id,
             COUNT(*) AS n_kept,
             md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS cleaned_md5
      FROM r WHERE rn = 1 GROUP BY doc_id
    ),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_segments FROM s GROUP BY doc_id
    )
    SELECT totals.doc_id,
           totals.n_segments,
           COALESCE(kept.n_kept, 0) AS n_kept,
           CAST(totals.n_segments - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(kept.cleaned_md5, md5('')) AS cleaned_md5
    FROM totals LEFT JOIN kept ON totals.doc_id = kept.doc_id
    """,
    tags=("llm-data", "dedup", "boilerplate"),
)
def q_segment_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup with reconstruction: split each document
    into non-overlapping SEGMENT_TOKENS-token segments, keep only the
    corpus-wide FIRST occurrence of each segment (ordered by doc_id,
    seg_idx — deterministic), and rebuild every document from its
    surviving segments, emitting the cleaned content hash.

    This is the line-level dedup of CCNet/RefinedWeb re-expressed on the
    space-tokenized fixture corpus. One wide shuffle (keep-first window
    partitioned by segment text); the rebuild groups by doc_id — at
    100 TB both exchanges hash-partition evenly because segment text and
    doc_id are high-cardinality.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    segs = d.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(float(SEGMENT_TOKENS))).cast("int") - 1,
            )
        ).alias("seg_idx"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "seg_idx",
        F.array_join(
            F.slice(F.col("toks"), F.col("seg_idx") * SEGMENT_TOKENS + 1, SEGMENT_TOKENS), " "
        ).alias("seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    kept = (
        ranked.filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                        lambda s: s["seg"],
                    ),
                    " ",
                )
            ).alias("cleaned_md5"),
        )
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
    )
