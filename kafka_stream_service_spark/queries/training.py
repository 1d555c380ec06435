"""Training-corpus assembly operators (LLM-data tier, part 2).

The dedup/similarity/text families cover cleaning; these cover the next
stage of a 100 TB training-data pipeline — turning a cleaned corpus into
model-ready data:

- sequence packing (concat-and-chunk): pack documents into fixed
  token-budget training sequences;
- deterministic content-hash sampling: reproducible Bernoulli subsets
  with no RNG state (same doc always samples the same way, on any
  engine — the property a resumable pipeline needs);
- source mixture reweighting: hit a target per-source mix by subsampling
  over-represented sources, again hash-deterministically;
- stratified per-language samples (fixed quota per stratum);
- PII redaction (email / long-digit-run scrubbing) as pure regex
  column expressions.

Scale notes: packing windows partition by source (never a global
ordering — the pack key is the shard key at 100 TB); sampling and
redaction are stateless map-side filters/projections that push into the
scan; mixture needs one tiny count aggregate broadcast back. No Python
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import tables
from .registry import query

PACK_BUDGET = 256  # tokens per packed training sequence

# ~10%: first 4 hex digits of md5(text) below 0x1999 (= 6553/65536).
# Hex strings of equal length compare lexicographically == numerically,
# and both engines emit lowercase md5 — so ONE string constant is the
# whole sampler. No RNG, no seed state, engine-portable.
SAMPLE_CUTOFF = "1999"


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), pos AS (
      SELECT *,
        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM sized
    ), spans AS (
      SELECT doc_id, source, n_tokens,
             cum_end - n_tokens AS tok_start, cum_end,
             CAST((cum_end - n_tokens) // {PACK_BUDGET} AS BIGINT) AS first_chunk,
             CAST((cum_end - 1) // {PACK_BUDGET} AS BIGINT) AS last_chunk
      FROM pos
    )
    SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
           CAST(least(cum_end, (chunk_id + 1) * {PACK_BUDGET})
                - greatest(tok_start, chunk_id * {PACK_BUDGET}) AS BIGINT)
             AS tokens_in_chunk
    FROM spans, unnest(range(first_chunk, last_chunk + 1)) AS t(chunk_id)
    """,
    tags=("training", "packing", "llm-data"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per source, documents are laid
    end-to-end in doc_id order and cut every PACK_BUDGET tokens; one
    output row per (document, chunk it spans) with the token overlap —
    exactly the manifest a sequence-building job consumes.

    One shuffle (the per-source window); the chunk explosion is JVM
    sequence+explode. The window never orders globally — `source` is the
    shard key, so each partition's prefix-sum is independent, which is
    what makes this shape viable at 100 TB.
    """
    d = tables(spark, sf_dir)["documents"]
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    spans = (
        d.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("cum_end", F.sum("n_tokens").over(w))
        .withColumn("tok_start", F.col("cum_end") - F.col("n_tokens"))
        # integer `div`, not floor(x/256.0): exact at any offset (double
        # division misfloors past 2^53) and matches the oracle's `//`
        .withColumn("first_chunk", F.expr(f"tok_start div {PACK_BUDGET}"))
        .withColumn("last_chunk", F.expr(f"(cum_end - 1) div {PACK_BUDGET}"))
    )
    chunk = F.col("chunk_id")
    return spans.select(
        "source",
        F.explode(F.sequence("first_chunk", "last_chunk")).alias("chunk_id"),
        "doc_id",
        "tok_start",
        "cum_end",
    ).select(
        "source",
        chunk.cast("bigint").alias("chunk_id"),
        "doc_id",
        (
            F.least(F.col("cum_end"), (chunk + 1) * PACK_BUDGET)
            - F.greatest(F.col("tok_start"), chunk * PACK_BUDGET)
        ).cast("bigint").alias("tokens_in_chunk"),
    )


@query(
    "q_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source, substr(md5(text), 1, 4) AS hash_prefix
    FROM documents
    WHERE substr(md5(text), 1, 4) < '{SAMPLE_CUTOFF}'
    """,
    tags=("training", "sampling", "llm-data"),
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample keyed on content hash: a doc is
    in or out of the sample forever, independent of partitioning, engine,
    or run — the reproducibility property `df.sample()` (RNG + partition
    dependent) cannot give a resumable pipeline. Pure map-side filter,
    pushes to the scan."""
    d = tables(spark, sf_dir)["documents"]
    prefix = F.substring(F.md5(F.col("text")), 1, 4)
    return (
        d.withColumn("hash_prefix", prefix)
        .filter(F.col("hash_prefix") < SAMPLE_CUTOFF)
        .select("doc_id", "lang", "source", "hash_prefix")
    )


@query(
    "q_corpus_mixture",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(cnt) AS total, COUNT(*) AS n_sources FROM counts
    ), rates AS (
      SELECT source, cnt,
             least(1.0, (SELECT total FROM tot) /
                        ((SELECT n_sources FROM tot) * 1.0 * cnt)) AS rate
      FROM counts
    ), cut AS (
      SELECT source, cnt, rate,
             lower(lpad(to_hex(CAST(floor(rate * 65536) AS BIGINT)), 4, '0')) AS cutoff
      FROM rates
    )
    SELECT d.source, COUNT(*) AS n_kept, any_value(c.cnt) AS n_before
    FROM documents d JOIN cut c ON d.source = c.source
    WHERE c.rate >= 1.0 OR substr(md5(d.text), 1, 4) < c.cutoff
    GROUP BY d.source
    """,
    tags=("training", "mixture", "llm-data"),
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixture reweighting toward a uniform target: sources above
    their target share are hash-subsampled at rate target/actual (the
    same content-hash sampler as q_hash_sample, cutoff per source), so
    the kept corpus approaches the target mix without touching
    under-represented sources.

    Two passes: a per-source count (tiny — one row per source) broadcast
    back into a map-side filter. The rate→cutoff conversion happens in
    integer hex space so the keep decision is the same string compare on
    every engine.
    """
    d = tables(spark, sf_dir)["documents"]
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_sources")
    )
    rates = counts.join(F.broadcast(tot)).select(
        "source",
        "cnt",
        F.least(
            F.lit(1.0), F.col("total") / (F.col("n_sources") * 1.0 * F.col("cnt"))
        ).alias("rate"),
    )
    cut = rates.withColumn(
        "cutoff",
        F.lower(F.lpad(F.hex(F.floor(F.col("rate") * 65536).cast("bigint")), 4, "0")),
    )
    kept = d.join(F.broadcast(cut), "source").filter(
        (F.col("rate") >= 1.0) | (F.substring(F.md5(F.col("text")), 1, 4) < F.col("cutoff"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.any_value(F.col("cnt")).alias("n_before")
    )


@query(
    "q_stratified_sample",
    oracle="""
    SELECT lang, doc_id, source
    FROM (
      SELECT lang, doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
    tags=("training", "sampling", "llm-data"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: a fixed quota of 20 docs per language,
    selected by content-hash order (deterministic, unbiased w.r.t. any
    corpus ordering, ties broken by doc_id). One shuffle on the stratum
    key; at scale the rank is a per-stratum top-k, not a global sort."""
    d = tables(spark, sf_dir)["documents"]
    w = W.partitionBy("lang").orderBy(F.md5(F.col("text")), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "source")
    )


# One conservative pattern per redaction class, in the regex subset Java
# and RE2 agree on (no backrefs, no lookaround; non-capturing groups only
# so both engines' group-0 extraction sees the same match). The email and
# digit-run classes are the real PII patterns (the fixture's synthetic
# text contains neither — they redact nothing here, by construction); the
# entity class matches fixture vocabulary so the substitution path is
# exercised end-to-end and hash-verified.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
DIGITRUN_RE = r"[0-9]{9,}"
ENTITY_RE = r"\b(?:customer|user)\b"


@query(
    "q_text_redact_pii",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}', 0)) AS n_emails,
           len(regexp_extract_all(text, '{DIGITRUN_RE}', 0)) AS n_digit_runs,
           len(regexp_extract_all(text, '{ENTITY_RE}', 0)) AS n_entities,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{DIGITRUN_RE}', '<NUM>', 'g'),
                 '{ENTITY_RE}', '<ENTITY>', 'g')) AS redacted_md5
    FROM documents
    WHERE regexp_matches(text, '{EMAIL_RE}')
       OR regexp_matches(text, '{DIGITRUN_RE}')
       OR regexp_matches(text, '{ENTITY_RE}')
    """,
    tags=("training", "redaction", "llm-data"),
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: replace emails, long digit runs, and flagged
    entity tokens with placeholders; report per-doc match counts and the
    redacted content hash (the hash proves the two engines produced
    byte-identical redacted text). Stateless column expressions — zero
    shuffle, full scan-speed at any size."""
    d = tables(spark, sf_dir)["documents"]
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), DIGITRUN_RE, "<NUM>"
        ),
        ENTITY_RE,
        "<ENTITY>",
    )
    return (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)).alias("n_emails"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(DIGITRUN_RE), 0)).alias(
                "n_digit_runs"
            ),
            F.size(F.regexp_extract_all(F.col("text"), F.lit(ENTITY_RE), 0)).alias(
                "n_entities"
            ),
            F.md5(redacted).alias("redacted_md5"),
        )
        .filter(
            (F.col("n_emails") > 0) | (F.col("n_digit_runs") > 0) | (F.col("n_entities") > 0)
        )
    )


@query(
    "q_weighted_sample",
    oracle="""
    SELECT doc_id, lang, n_chars, round(k, 6) AS sample_key FROM (
      SELECT doc_id, lang, n_chars,
             ln((CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) + 0.5)
                / 4294967296.0) / n_chars AS k
      FROM documents WHERE n_chars > 0
    ) ORDER BY k DESC, doc_id LIMIT 100
    """,
    tags=("training", "sampling", "weighted", "llm-data"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (the A-ES
    reservoir trick): each doc draws a content-hash uniform u and the
    top-k by ln(u)/w are the sample — inclusion probability proportional
    to the weight (n_chars here as the quality/length proxy). No RNG:
    the same corpus yields the same sample on any engine, partitioning,
    or rerun — the property a resumable training-data pipeline needs,
    and exactly how you over-sample high-quality sources without a
    shuffle (map-side key + TakeOrdered top-k; the k rows are the only
    thing that reaches the driver side of the sort).
    """
    d = tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("bigint") + 0.5
    ) / F.lit(float(2**32))
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars", F.round("k", 6).alias("sample_key"))
    )


QUOTA_K = 15  # per-source document cap


@query(
    "q_source_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(text), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE rk <= {QUOTA_K}) AS BIGINT) AS n_kept,
           CAST(SUM(n_chars) FILTER (WHERE rk <= {QUOTA_K}) AS BIGINT) AS chars_kept
    FROM ranked GROUP BY source
    """,
    tags=("training", "sampling", "curation", "llm-data"),
)
def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document QUOTA (the per-domain cap every web-crawl
    pipeline applies so no single domain dominates the corpus): keep at
    most 15 documents per source, chosen by a deterministic
    content-hash ranking (md5, doc_id tie-break) — an unbiased,
    re-runnable sample, unlike "first K seen" which depends on scan
    order. Complements the RATE-based samplers (q_stratified_sample
    keeps a fraction; the quota keeps an exact count) — rate caps
    relative share, quota caps absolute contribution.

    Scale shape: one window partitioned by source — each domain's rank
    is an independent partition, and the heavy-domain skew this op
    exists for is exactly what the hash-order ranking bounds: only rank
    <= K survives, so downstream reads shrink to K x |domains| rows.
    At extreme per-domain cardinality swap row_number for a two-pass
    top-K (per-partition TakeOrdered then merge), same semantics.
    """
    d = tables(spark, sf_dir)["documents"]
    w = W.partitionBy("source").orderBy(F.md5("text"), F.col("doc_id"))
    ranked = d.select("source", "n_chars", F.row_number().over(w).alias("rk"))
    kept = F.col("rk") <= QUOTA_K
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars"))).cast("bigint").alias("chars_kept"),
    )


@query(
    "q_token_budget_allocation",
    oracle="""
    WITH avail AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(avail) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_src,
             CAST(SUM(avail) // 2 AS BIGINT) AS budget
      FROM avail
    ),
    base AS (
      SELECT a.source, a.avail,
             LEAST(a.avail, t.budget // t.n_src) AS take1
      FROM avail a, tot t
    ),
    lo AS (
      SELECT CAST((SELECT budget FROM tot) - SUM(take1) AS BIGINT) AS leftover,
             CAST(SUM(avail - take1) AS BIGINT) AS cap_rem
      FROM base
    )
    SELECT b.source, b.avail,
           CAST(b.take1 AS BIGINT) AS base_take,
           CAST(CASE WHEN lo.cap_rem > 0
                     THEN (lo.leftover * (b.avail - b.take1)) // lo.cap_rem
                     ELSE 0 END AS BIGINT) AS extra_take,
           CAST(b.take1 + CASE WHEN lo.cap_rem > 0
                     THEN (lo.leftover * (b.avail - b.take1)) // lo.cap_rem
                     ELSE 0 END AS BIGINT) AS final_take
    FROM base b, lo
    """,
    tags=("training", "planning", "mixture", "llm-data"),
)
def q_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget ALLOCATION planning — "fill a B-token training
    budget from N sources without letting any source exceed what it
    has": equal base quota per source capped at availability, then one
    proportional-to-remaining-capacity redistribution of the leftover
    (a single waterfilling round, all floor-division integer arithmetic
    so the plan is bit-reproducible). The output is the per-source
    take table a mixture sampler (q_corpus_mixture) consumes as rates;
    budget here is 50% of corpus tokens, exercising both the capped
    (small sources give everything) and uncapped branches.

    Scale shape: one map-side token count + source agg (N_src rows),
    then pure scalar algebra over broadcast 1-row totals — the
    planning query costs one corpus scan regardless of budget logic,
    and iterating more waterfilling rounds re-runs only the tiny
    scalar tail. DIV keeps every quantity integer; no float surface.
    """
    d = tables(spark, sf_dir)["documents"]
    avail = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("avail")
    )
    tot = avail.agg(
        F.sum("avail").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
        F.expr("CAST(sum(avail) DIV 2 AS BIGINT)").alias("budget"),
    )
    base = avail.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail",
        F.least(F.col("avail"), F.expr("budget DIV n_src")).alias("take1"),
        "budget",
    )
    lo = base.agg(
        (F.first("budget") - F.sum("take1")).cast("bigint").alias("leftover"),
        F.sum(F.col("avail") - F.col("take1")).cast("bigint").alias("cap_rem"),
    )
    out = base.crossJoin(F.broadcast(lo)).select(
        "source",
        "avail",
        F.col("take1").cast("bigint").alias("base_take"),
        F.when(
            F.col("cap_rem") > 0,
            F.expr("(leftover * (avail - take1)) DIV cap_rem"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("extra_take"),
    )
    return out.select(
        "source",
        "avail",
        "base_take",
        "extra_take",
        (F.col("base_take") + F.col("extra_take")).cast("bigint").alias("final_take"),
    )
