"""Round-11 batch 14: the incremental-refresh pattern completed for the
TEXT index — a stored BASE lexical index (corpus minus the arriving
slice) merged with freshly derived delta postings, hash-proven equal to
a full rebuild on exactly the vocabulary the delta touches. This is the
q_pair_index_delta production shape lifted to retrieval: an index
refresh costs O(delta postings + touched-token merge), never a corpus
re-derivation.

Reference parity note: the reference (StreamsApplication.java) has no
index surface; this extends the mandated stored-index/serving tier
(round-11 batches 1/6/8) with its missing refresh leg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from .registry import query
from .round10b import _DELTA_MOD, _DELTA_REM
from .round11f import text_index_parts
from .stored import StoredIndex

# ---------------------------------------------------------------------------
# Stored BASE text index (corpus minus the delta slice)
# ---------------------------------------------------------------------------

# The BASE lexical index over the corpus EXCLUDING the delta slice
# (doc_id % 10 == 7, the repo's standing "newly arrived" convention from
# q_pair_index_delta). Unlike the serving index (round11f.TEXT_INDEX),
# postings here deliberately carry NO denormalized df: it would go stale
# on every refresh and force rewriting every posting row of every touched
# token, so the refresh path keeps df normalized (one per-token census
# away) and the SERVING build denormalizes at publication.
TEXT_BASE_INDEX = StoredIndex(
    tag="text_index_base",
    rev="r1tok-ws",
    source="documents",
    parts=("postings", "doclen", "stats"),
    derive=lambda spark, sf_dir: text_index_parts(
        tables(spark, sf_dir)["documents"].filter(
            (F.col("doc_id") % _DELTA_MOD) != _DELTA_REM
        ),
        with_df=False,
    ),
)


# ---------------------------------------------------------------------------
# Incremental text-index refresh, certified against a full rebuild
# ---------------------------------------------------------------------------


@query(
    "q_text_index_delta",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toked GROUP BY token, doc_id
    ),
    census AS (
      SELECT token,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS sum_tf,
             CAST(SUM(CASE WHEN doc_id % {_DELTA_MOD} = {_DELTA_REM}
                      THEN 1 ELSE 0 END) AS BIGINT) AS df_delta
      FROM tf GROUP BY token
    )
    SELECT token, df, sum_tf, df_delta
    FROM census WHERE df_delta > 0
    """,
    tags=("text", "retrieval", "index", "incremental", "llm-data", "round11"),
)
def q_text_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental text-index refresh: the delta slice (doc_id % 10 ==
    7, ~10% "newly arrived" docs) is tokenized FRESH and merged with
    the STORED base index's per-token census — merged df = base df +
    delta df, merged sum_tf likewise, via one full-outer join on token
    restricted to the delta vocabulary. The oracle derives the census
    from the WHOLE corpus, so the driver's hash verdict proves
    stored-base + delta-merge == full rebuild on exactly the token
    rows a refresh updates (untouched tokens stream through unchanged
    by construction; the invariant is pytest-pinned in
    tests/test_round11_plans.py).

    The base artifact stores df NORMALIZED (per-token, not denormalized
    onto postings like the serving index) — the refresh-path schema
    choice: denormalized df goes stale on every merge and would force
    rewriting every posting of every touched token; the serving build
    denormalizes once at publication instead.

    Exactness: every census number is an exact integer count/sum; the
    merge is integer addition under a full-outer join with COALESCE 0.

    Scale shape (100 TB): the corpus is scanned ONLY for the ~10%
    delta slice (partition-prunable on an arrival-date key in
    production); the stored side contributes one token-grain census of
    zone-map-pruned posting reads; the merge joins two token-grain
    frames. Refresh cost is O(delta + touched tokens), decoupled from
    corpus size — the same contract as q_pair_index_delta.
    """
    base = TEXT_BASE_INDEX.read(spark, sf_dir)
    base_census = base["postings"].groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_b"),
        F.sum("tf").cast("bigint").alias("tf_b"),
    )
    delta_docs = tables(spark, sf_dir)["documents"].filter(
        (F.col("doc_id") % _DELTA_MOD) == _DELTA_REM
    )
    delta_census = (
        delta_docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df_delta"),
            F.sum("tf").cast("bigint").alias("tf_d"),
        )
    )
    merged = (
        delta_census.join(base_census, "token", "left")
        .select(
            "token",
            (F.coalesce("df_b", F.lit(0)) + F.col("df_delta"))
            .cast("bigint")
            .alias("df"),
            (F.coalesce("tf_b", F.lit(0)) + F.col("tf_d"))
            .cast("bigint")
            .alias("sum_tf"),
            "df_delta",
        )
    )
    return merged


# ---------------------------------------------------------------------------
# BM25 serving AFTER a refresh: merged base+delta index == full index
# ---------------------------------------------------------------------------

from .registry import QUERIES  # noqa: E402
from .round7f import _BM25_TERMS  # noqa: E402


@query(
    "q_bm25_after_refresh",
    # the serving-consistency contract is literal: SAME oracle as the
    # full-index serving row (round11f registers before this module)
    oracle=QUERIES["q_bm25_stored_index"].oracle,
    tags=("text", "retrieval", "bm25", "index", "incremental", "serving",
          "llm-data", "round11"),
)
def q_bm25_after_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 serving over the REFRESHED index — the query-consistency
    certificate for q_text_index_delta: the same 3-term query and
    k1=1.2/b=0.75 scoring as q_bm25_stored_index, but tf comes from
    the stored BASE postings UNIONED with the freshly derived delta
    postings, df from the merged per-token census, doc lengths from
    base doclen + delta doclen, and corpus stats from base stats +
    delta increments. The oracle is q_bm25_stored_index's full
    derivation, so the driver hash proves serving-after-refresh ==
    serving-after-rebuild — a refresh that silently skewed df or
    dropped a posting would flip the top-15.

    Exactness: identical quantized-per-term integer scoring
    (term scores floor at 1e6 BEFORE the per-doc sum); all merge
    arithmetic is exact integer addition.

    Scale shape: the base side reads only the query terms' posting
    rows (token filter pushed into the parquet scan, zone-map-pruned);
    the delta side tokenizes the ~10% arrival slice; stats/census
    merges are token-grain and 1-row.
    """
    base = TEXT_BASE_INDEX.read(spark, sf_dir)
    delta_docs = tables(spark, sf_dir)["documents"].filter(
        (F.col("doc_id") % _DELTA_MOD) == _DELTA_REM
    )
    delta_tf = (
        delta_docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    delta_tf = delta_tf.cache()
    tf = (
        base["postings"]
        .filter(F.col("token").isin(*_BM25_TERMS))
        .unionByName(delta_tf.filter(F.col("token").isin(*_BM25_TERMS)))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    dl = base["doclen"].unionByName(
        delta_docs.select(
            "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
        )
    )
    delta_stats = delta_docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum(F.size(F.split("text", " ")).cast("bigint"))
        .cast("bigint")
        .alias("dsum"),
    )
    stats = (
        base["stats"]
        .crossJoin(F.broadcast(delta_stats))
        .select(
            (F.col("n_docs") + F.col("dn")).cast("bigint").alias("n_docs"),
            (F.col("sum_dl") + F.col("dsum")).cast("bigint").alias("sum_dl"),
        )
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tfn = (F.col("tf").cast("double") * 2.2) / (
        F.col("tf").cast("double")
        + 1.2
        * (
            0.25
            + 0.75
            * (
                F.col("dl").cast("double")
                / (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))
            )
        )
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(F.lit(1000000.0) * (idf * tfn)).cast("bigint").alias("term_q"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_q").cast("bigint").alias("bm25_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25_q").desc(), "doc_id")
        .limit(15)
    )
