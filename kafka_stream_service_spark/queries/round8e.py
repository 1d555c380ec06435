"""Round-8 operator batch 5: tokenizer-apply, skip-gram training-pair
generation, and temperature-based corpus mixing — three LLM-data
pipeline steps the catalog counted, counted candidates for, or
subsampled around but never actually performed.

Family placement: q_bpe_apply_merges is the missing APPLY half of
q_bpe_merge_candidates (which trains merge candidates but never
tokenizes); q_skipgram_negative_sampling generates the (center,
context, negatives) training triples behind word2vec-style embedding
pretraining (the data-prep step upstream of everything the
embeddings table represents); q_temperature_mixing is the
multilingual-LLM sampling-weight recipe (p_i ~ n_i^alpha, alpha=0.3 a
la XLM-R/mC4) next to q_corpus_mixture's uniform-target subsampler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .dedup2 import _h_sql, portable_hash64
from .registry import query

# ---------------------------------------------------------------------------
# BPE merge application (vocabulary-grain tokenization)
# ---------------------------------------------------------------------------

# A "trained" ordered merge list (the export of q_bpe_merge_candidates
# iterations), embedded as literals like the logreg/tree model weights.
# Merges target the fixture vocabulary's frequent character pairs.
_BPE_MERGES = (
    ("a", "b"),
    ("l", "e"),
    ("ab", "le"),
    ("t", "able"),
    ("a", "s"),
    ("h", "as"),
)


def _merge_expr_sql(col: str) -> str:
    """Nested replace() chain applying the merge list in order over a
    '|'-delimited symbol sequence. Each merge runs TWICE: leftmost
    non-overlapping replacement consumes the shared delimiter between
    chained occurrences ('|a|b|a|b|' -> '|ab|a|b|' after one pass), and
    a second pass closes exactly the odd-chain remainder — a
    deterministic contract both engines implement identically."""
    expr = col
    for a, b in _BPE_MERGES:
        for _ in range(2):
            expr = f"replace({expr}, '|{a}|{b}|', '|{a}{b}|')"
    return expr


@query(
    "q_bpe_apply_merges",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY w),
    seq AS (  -- vocabulary-grain: '|'-delimited character sequence
      SELECT w, freq,
             '|' || array_to_string(string_split_regex(w, ''), '|') || '|' AS s0
      FROM wf
    ),
    merged AS (
      SELECT w, freq, {_merge_expr_sql("s0")} AS s FROM seq
    ),
    tok AS (
      SELECT w, freq,
             CAST(length(w) AS BIGINT) AS n_chars,
             CAST(length(s) - length(replace(s, '|', '')) - 1 AS BIGINT) AS n_tokens
      FROM merged
    )
    SELECT w AS word, freq, n_chars, n_tokens,
           CAST(freq * (n_chars - n_tokens) AS BIGINT) AS corpus_savings
    FROM tok
    """,
    tags=("text", "tokenizer", "bpe", "llm-data", "round8"),
)
def q_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the missing second half of
    q_bpe_merge_candidates (which mines merge candidates but never
    tokenizes): an ordered literal merge list is applied to every
    vocabulary word as successive delimiter-aware replacements over a
    '|'-separated symbol sequence, and the per-word token count (plus
    the corpus-wide character savings each word's frequency buys) is
    emitted. Runs at the VOCABULARY grain — the q_bpe_merge_candidates
    scale trick: tokenization is a pure function of the word, so the
    corpus reduces to distinct words x frequency before any string
    work (a 10^5+ reduction at web scale).

    The merge contract is two passes of leftmost-non-overlapping
    replacement per merge (deterministic on both engines; one pass
    consumes the shared delimiter between chained occurrences).
    """
    d = tables(spark, sf_dir)["documents"]
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    # '|' || join(split chars) || '|' — regexp split on empty pattern
    # yields the character array on both engines
    seq = wf.withColumn(
        "s0",
        F.concat(
            F.lit("|"), F.array_join(F.split(F.col("w"), ""), "|"), F.lit("|")
        ),
    )
    merged = seq.withColumn("s", F.expr(_merge_expr_sql("s0")))
    tok = merged.select(
        F.col("w").alias("word"),
        "freq",
        F.length("w").cast("bigint").alias("n_chars"),
        (F.length("s") - F.length(F.regexp_replace("s", "\\|", "")) - 1)
        .cast("bigint")
        .alias("n_tokens"),
    )
    return tok.select(
        "word",
        "freq",
        "n_chars",
        "n_tokens",
        (F.col("freq") * (F.col("n_chars") - F.col("n_tokens")))
        .cast("bigint")
        .alias("corpus_savings"),
    )


# ---------------------------------------------------------------------------
# Skip-gram (center, context) pair generation + deterministic negatives
# ---------------------------------------------------------------------------

_SG_WINDOW = 2
_SG_SEED = 88


@query(
    "q_skipgram_negative_sampling",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, u.i AS pos, t.ws[u.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
           unnest(range(1, len(t.ws) + 1)) AS u(i)
    ),
    vocab AS (
      SELECT w, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) - 1 AS widx,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM toks GROUP BY w
    ),
    vsize AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    pairs AS (
      SELECT c.w AS center, x.w AS context, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM toks c JOIN toks x
        ON x.doc_id = c.doc_id
       AND x.pos BETWEEN c.pos - {_SG_WINDOW} AND c.pos + {_SG_WINDOW}
       AND x.pos <> c.pos
      GROUP BY 1, 2
    )
    SELECT p.center, p.context, p.n_pairs,
           CAST(vc.widx AS BIGINT) AS center_idx,
           CAST({_h_sql("p.center || '>' || p.context", str(_SG_SEED))} % s.v
                AS BIGINT) AS neg1_idx,
           CAST({_h_sql("p.center || '>' || p.context", str(_SG_SEED + 1))} % s.v
                AS BIGINT) AS neg2_idx
    FROM pairs p
    JOIN vocab vc ON vc.w = p.center
    CROSS JOIN vsize s
    """,
    tags=("text", "training-pairs", "llm-data", "round8"),
)
def q_skipgram_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training-pair generation with deterministic negative
    sampling — the word2vec/embedding-pretraining data-prep step: every
    (center, context) token pair within a +-2 window, aggregated to
    pair counts, each pair carrying its center's frequency-ranked vocab
    index and two NEGATIVE sample indices drawn by portable hash of the
    pair (RNG-free, so the training set is reproducible run-to-run —
    the property hash-seeded samplers exist for in this repo).

    Scale shape: the window pairing is a position self-join INSIDE the
    doc_id key (co-partitioned, fan-out bounded by 2*window); pair
    aggregation is map-side combinable; vocab index and size ride in on
    broadcasts. At web scale the pair space is vocabulary^2-bounded —
    the aggregation, not the raw pair stream, is what downstream
    training jobs consume.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    toks = barrier(toks, "reuse")  # both sides of the window join
    from pyspark.sql import Window as W

    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn(
            "widx",
            F.row_number().over(W.orderBy(F.col("freq").desc(), "w")) - 1,
        )
    )
    vsize = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    c = toks.select("doc_id", F.col("pos").alias("cpos"), F.col("w").alias("center"))
    x = toks.select("doc_id", F.col("pos").alias("xpos"), F.col("w").alias("context"))
    pairs = (
        c.join(
            x,
            (c["doc_id"] == x["doc_id"])
            & (F.col("xpos") >= F.col("cpos") - _SG_WINDOW)
            & (F.col("xpos") <= F.col("cpos") + _SG_WINDOW)
            & (F.col("xpos") != F.col("cpos")),
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    key = F.concat(F.col("center"), F.lit(">"), F.col("context"))
    return (
        pairs.join(
            F.broadcast(vocab.select(F.col("w").alias("center"), "widx")), "center"
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            "center",
            "context",
            "n_pairs",
            F.col("widx").cast("bigint").alias("center_idx"),
            (portable_hash64(key, _SG_SEED) % F.col("v")).cast("bigint").alias("neg1_idx"),
            (portable_hash64(key, _SG_SEED + 1) % F.col("v")).cast("bigint").alias("neg2_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based corpus mixing weights (p_i ~ n_i^alpha)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.3


@query(
    "q_temperature_mixing",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
    ),
    w AS (  -- n^alpha spelled exp(alpha*ln(n)) so both engines evaluate
            -- the identical transcendental expression tree
      SELECT source, n_docs, exp({_MIX_ALPHA} * ln(CAST(n_docs AS DOUBLE))) AS pw
      FROM counts
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS t,
             CAST(SUM(CAST(FLOOR(1000000.0 * pw) AS BIGINT)) AS BIGINT) AS z_q6
      FROM w
    )
    SELECT source, n_docs,
           CAST(FLOOR(1000000.0 * pw) AS BIGINT) AS pow_q6,
           CAST(FLOOR(1000000.0 * (CAST(FLOOR(1000000.0 * pw) AS DOUBLE)
                                   / CAST(z_q6 AS DOUBLE))) AS BIGINT) AS weight_q6,
           CAST(FLOOR(1000000.0 * (
             (CAST(FLOOR(1000000.0 * pw) AS DOUBLE) / CAST(z_q6 AS DOUBLE))
             * CAST(t AS DOUBLE) / CAST(n_docs AS DOUBLE)
           )) AS BIGINT) AS exp_epochs_q6
    FROM w CROSS JOIN tot
    """,
    tags=("llm-data", "sampling", "mixing", "round8"),
)
def q_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling weights — the multilingual-LLM
    mixing recipe (p_i proportional to n_i^alpha, alpha = 0.3, the
    XLM-R/mC4 upsampling of low-resource sources): per source the
    unnormalized weight n^alpha (spelled exp(alpha*ln(n)) identically
    on both engines and floor-quantized BEFORE normalization so the
    partition function is an exact integer sum), the normalized mixing
    weight, and the expected epochs-per-document the weight implies
    (>1 = the source is upsampled/repeats). Complements
    q_corpus_mixture, which enforces a uniform target by subsampling —
    temperature mixing instead reweights draws and surfaces the repeat
    factor that drives dedup/memorization budgets.

    Scale shape: one groupBy to the source grain; constant-size
    arithmetic after.
    """
    d = tables(spark, sf_dir)["documents"]
    counts = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    pw = F.exp(F.lit(_MIX_ALPHA) * F.log(F.col("n_docs").cast("double")))
    w = counts.withColumn("pow_q6", F.floor(F.lit(1000000.0) * pw).cast("bigint"))
    tot = w.agg(
        F.sum("n_docs").cast("bigint").alias("t"),
        F.sum("pow_q6").cast("bigint").alias("z_q6"),
    )
    weight = F.col("pow_q6").cast("double") / F.col("z_q6").cast("double")
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "pow_q6",
        F.floor(F.lit(1000000.0) * weight).cast("bigint").alias("weight_q6"),
        F.floor(
            F.lit(1000000.0)
            * (weight * F.col("t").cast("double") / F.col("n_docs").cast("double"))
        )
        .cast("bigint")
        .alias("exp_epochs_q6"),
    )


# ---------------------------------------------------------------------------
# Production-hash incremental dedup (xxhash64 signatures, rows-only)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_incremental_fast",
    oracle=None,  # xxhash64 signatures — rows-only; the exact-hash
    # certificate is the portable twin below
    tags=("dedup", "incremental", "llm-data", "round8"),
    portable_twin="q_dedup_incremental_snapshot",
)
def q_dedup_incremental_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION variant of q_dedup_incremental_snapshot: identical
    pipeline (incoming odd-doc_id snapshot probes the even-doc_id
    corpus's LSH band buckets, exact-Jaccard verify, per-doc verdict),
    but signed with JVM-side xxhash64 instead of portable md5 — ~5x
    faster end-to-end at sf0.1 (1.5 s vs 7.2 s), because the md5 is
    the oracle's price, not the algorithm's. Rows-only at the driver
    gate; its hash-verified certificate is the portable twin
    (QuerySpec.portable_twin), the same pairing as
    q_dedup_minhash_lsh / q_minhash_lsh_portable.

    Scale shape: identical to the twin (bucket index built once,
    band+bucket equi-join, candidate-only verification joins).
    """
    from ..operators.dedup import (
        band_buckets,
        minhash_signature,
        word_shingles_from_tokens,
    )

    d = tables(spark, sf_dir)["documents"]
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = barrier(toked.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), 3).alias("shingles")
    ), "reuse")
    sig = sh.select("doc_id", minhash_signature(F.col("shingles"), 16).alias("sig"))
    banded = sig.select(
        "doc_id", F.explode(band_buckets(F.col("sig"), 4, 4)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    inc_b = banded.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("inc_id"), "band", "bucket"
    )
    corp_b = banded.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("corp_id"), "band", "bucket"
    )
    cpairs = inc_b.join(corp_b, ["band", "bucket"]).select("inc_id", "corp_id").distinct()
    si = sh.select(F.col("doc_id").alias("inc_id"), F.col("shingles").alias("sh_i"))
    sc = sh.select(F.col("doc_id").alias("corp_id"), F.col("shingles").alias("sh_c"))
    inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_c")))
    union = F.size("sh_i") + F.size("sh_c") - inter
    verified = barrier(
        cpairs.join(si, "inc_id")
        .join(sc, "corp_id")
        .select("inc_id", "corp_id", inter.alias("n_inter"), union.alias("n_union")),
        "reuse",
    )
    dups = (
        verified.filter(2 * F.col("n_inter") >= F.col("n_union"))
        .groupBy("inc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("corp_id").cast("bigint").alias("best_match"),
        )
    )
    best = dups.join(
        verified.select(
            "inc_id",
            F.col("corp_id").alias("best_match"),
            F.col("n_inter").cast("bigint").alias("j_num"),
            F.col("n_union").cast("bigint").alias("j_den"),
        ),
        ["inc_id", "best_match"],
    )
    incoming = d.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return incoming.join(
        best.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.when(F.col("best_match").isNotNull(), 1).otherwise(0).cast("int").alias("is_dup"),
        "n_matches",
        "best_match",
        "j_num",
        "j_den",
    )
