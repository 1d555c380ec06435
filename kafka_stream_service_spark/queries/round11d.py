"""Round-11 batch 4: rater-agreement and rank-overlap metrics, plus the
round's streaming capstone — in-flight dedup of newly arriving documents
probing the STORED band-bucket index (the incremental pair refresh of
q_pair_index_delta lifted into Structured Streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from .registry import query

# ---------------------------------------------------------------------------
# Cohen's kappa (chance-corrected agreement of the two quality filters)
# ---------------------------------------------------------------------------

from .round11c import _FILTER_A_SQL, _FILTER_B_SQL  # noqa: E402 (shared predicates)


@query(
    "q_cohens_kappa",
    oracle=f"""
    WITH verdicts AS (
      SELECT doc_id,
             CASE WHEN {_FILTER_A_SQL} THEN 1 ELSE 0 END AS a,
             CASE WHEN {_FILTER_B_SQL} THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    cells AS (
      SELECT CAST(SUM(a * b) AS BIGINT) AS pp,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS pf,
             CAST(SUM((1 - a) * b) AS BIGINT) AS fp,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS ff,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM verdicts
    )
    SELECT pp, pf, fp, ff, n,
           CAST((pp + ff) * 1000000 // n AS BIGINT) AS po_q6,
           CAST(((pp + pf) * (pp + fp) + (fp + ff) * (pf + ff)) * 1000000
                // (n * n) AS BIGINT) AS pe_q6,
           CAST(FLOOR(1000000.0
                * (CAST(n * (pp + ff) - ((pp + pf) * (pp + fp)
                        + (fp + ff) * (pf + ff)) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n - ((pp + pf) * (pp + fp)
                        + (fp + ff) * (pf + ff))))) AS BIGINT) AS kappa_q6
    FROM cells
    """,
    tags=("stats", "agreement", "quality", "llm-data", "round11"),
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the two document-quality filters — the
    chance-corrected AGREEMENT companion to q_mcnemar_filters'
    disagreement test (McNemar asks "do they disagree systematically?",
    kappa asks "how much better than coin-flip do they agree?"): kappa
    = (p_o - p_e)/(1 - p_e) with p_e from the marginal products.

    Exactness: the 2x2 cells are exact integers; p_o and p_e are
    integer floor divisions; kappa is expanded to the single rational
    (n*agree - chance) / (n^2 - chance) — one floor-quantized double of
    exact integers < 2^53 (n <= ~5e6 docs keeps n^2 < 2^53; beyond
    that, the same expression runs in DECIMAL).

    Scale shape: one scan, one 4-cell rollup — map-side combinable.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    verdicts = d.select(
        ((F.size(toks) >= 20) & (F.size(toks) <= 90)).cast("int").alias("a"),
        (2 * F.size(F.array_distinct(toks)) >= F.size(toks)).cast("int").alias("b"),
    )
    cells = verdicts.agg(
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("pp"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("pf"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("fp"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("ff"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    chance = (F.col("pp") + F.col("pf")) * (F.col("pp") + F.col("fp")) + (
        F.col("fp") + F.col("ff")
    ) * (F.col("pf") + F.col("ff"))
    return cells.select(
        "pp",
        "pf",
        "fp",
        "ff",
        "n",
        F.expr("(pp + ff) * 1000000 DIV n").cast("bigint").alias("po_q6"),
        F.expr(
            "((pp + pf) * (pp + fp) + (fp + ff) * (pf + ff)) * 1000000 DIV (n * n)"
        )
        .cast("bigint")
        .alias("pe_q6"),
        F.floor(
            F.lit(1000000.0)
            * (
                (F.col("n") * (F.col("pp") + F.col("ff")) - chance).cast("double")
                / (F.col("n").cast("double") * F.col("n") - chance)
            )
        )
        .cast("bigint")
        .alias("kappa_q6"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between the dot-product and L2 retriever rankings
# ---------------------------------------------------------------------------

_RBO_DEPTH = 20
_RBO_P = 0.9
# Literal per-depth weights (1-p)*p^(d-1), quantized to 1e12 in PYTHON so
# both engines consume the same integer constants — no cross-engine pow().
_RBO_W = [int(round(1e12 * (1 - _RBO_P) * _RBO_P ** (d - 1))) for d in range(1, _RBO_DEPTH + 1)]


@query(
    "q_rank_biased_overlap",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
    ),
    q8 AS (
      SELECT vec_id, label,
             list_transform(v, x -> CAST(round(x / scale) AS INT)) AS qv
      FROM quant
    ),
    qset AS (
      SELECT vec_id AS query_id, qv FROM q8
      WHERE vec_id % 10 = 7 AND vec_id < 80
    ),
    scored AS (
      SELECT s.query_id, m.vec_id AS nid,
             CAST(list_dot_product(s.qv, m.qv) AS BIGINT) AS dot,
             CAST(list_dot_product(m.qv, m.qv) AS BIGINT) AS nn
      FROM qset s JOIN q8 m ON m.vec_id != s.query_id
    ),
    ranked AS (
      SELECT query_id, nid,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, nid) AS r_dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY nn - 2 * dot, nid) AS r_l2
      FROM scored
    ),
    depths AS (SELECT unnest(range(1, {_RBO_DEPTH + 1})) AS d),
    ov AS (
      SELECT r.query_id, dep.d,
             CAST((SELECT COUNT(*) FROM ranked x
                   WHERE x.query_id = r.query_id
                     AND x.r_dot <= dep.d AND x.r_l2 <= dep.d) AS BIGINT) AS ov_d
      FROM (SELECT DISTINCT query_id FROM ranked) r CROSS JOIN depths dep
    ),
    wtab AS (
      SELECT unnest(range(1, {_RBO_DEPTH + 1})) AS d,
             unnest([{", ".join(str(w) for w in _RBO_W)}]) AS w
    )
    SELECT o.query_id,
           CAST(SUM(w.w * o.ov_d // o.d) AS BIGINT) AS rbo_q12,
           CAST(MAX(CASE WHEN o.d = {_RBO_DEPTH} THEN o.ov_d END) AS BIGINT)
             AS ov_at_depth
    FROM ov o JOIN wtab w ON w.d = o.d
    GROUP BY o.query_id
    """,
    tags=("similarity", "retrieval", "rank-overlap", "eval", "round11"),
)
def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the dot-product
    and L2-distance retriever rankings, truncated at depth
    {_RBO_DEPTH} with persistence p = {_RBO_P} — the top-weighted
    ranking-similarity metric that answers "how differently do my two
    retrievers ORDER results?" (the diagnostic read before deciding RRF
    fusion is worth running; ~1 means redundant rankers).

    Exactness: per-depth overlap counts are exact integers from the two
    window rankings; the geometric weights (1-p)p^(d-1) are PYTHON-
    computed integer literals embedded in both engines' plans (no
    cross-engine pow()); each depth term is an integer floor division,
    so the RBO sum is order-free integer addition.

    Scale shape: the scored frame is the 8-query brute-force baseline;
    overlap-at-depth is a {_RBO_DEPTH}-row-per-query aggregation of the
    top-{_RBO_DEPTH} slices of both rankings — bounded grain after the
    rank windows.
    """
    from pyspark.sql import Window as W

    from .corpus_ops import _quantized

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    qset = e.filter(
        ((F.col("vec_id") % 10) == 7) & (F.col("vec_id") < 80)
    ).select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"))
    idot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, b: a.cast("bigint") * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        e.select(F.col("vec_id").alias("nid"), F.col("qv").alias("m_qv"))
        .crossJoin(F.broadcast(qset))
        .filter(F.col("nid") != F.col("query_id"))
        .select(
            "query_id",
            "nid",
            idot(F.col("q_qv"), F.col("m_qv")).alias("dot"),
            idot(F.col("m_qv"), F.col("m_qv")).alias("nn"),
        )
    )
    wd = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "nid")
    wl = W.partitionBy("query_id").orderBy((F.col("nn") - 2 * F.col("dot")).asc(), "nid")
    ranked = scored.select(
        "query_id",
        F.row_number().over(wd).alias("r_dot"),
        F.row_number().over(wl).alias("r_l2"),
    ).filter(
        (F.col("r_dot") <= _RBO_DEPTH) | (F.col("r_l2") <= _RBO_DEPTH)
    )
    depths = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    ov = (
        ranked.join(
            F.broadcast(depths),
            (F.col("r_dot") <= F.col("d")) & (F.col("r_l2") <= F.col("d")),
        )
        .groupBy("query_id", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ov_d"))
    )
    # complete the (query, depth) grid: depths where the top-d slices
    # are disjoint have overlap 0 and still contribute weight*0
    qids = ranked.select("query_id").distinct()
    grid = qids.crossJoin(F.broadcast(depths))
    # JVM-side literal weight table (a Python local relation costs ~5 s
    # per job in this container — the streaming_replay._literal_rows note)
    wtab = spark.range(1).select(
        F.posexplode(F.array(*[F.lit(w) for w in _RBO_W])).alias("pos", "w")
    ).select((F.col("pos") + 1).cast("bigint").alias("d"), F.col("w").cast("bigint").alias("w"))
    return (
        grid.join(ov, ["query_id", "d"], "left")
        .select(
            "query_id",
            "d",
            F.coalesce("ov_d", F.lit(0)).cast("bigint").alias("ov_d"),
        )
        .join(F.broadcast(wtab), "d")
        .groupBy("query_id")
        .agg(
            F.sum(F.expr("w * ov_d DIV d")).cast("bigint").alias("rbo_q12"),
            F.max(F.when(F.col("d") == _RBO_DEPTH, F.col("ov_d")))
            .cast("bigint")
            .alias("ov_at_depth"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming capstone: newly arriving documents dedup against the STORED
# band-bucket index, in-flight
# ---------------------------------------------------------------------------

from .dedup2 import _PAIRS_CTE  # noqa: E402 (shared pair-derivation oracle)

_SDELTA_MOD = 10
_SDELTA_REM = 7


def build_index_probe_stream(
    spark: SparkSession, sf_dir: str, flat: str
) -> DataFrame:
    """The in-flight index-probe dedup pipeline over a staged file
    stream at ``flat`` — shared by the catalog query and the
    between-epoch chaos-restart test (which needs to drive the same
    plan from its own incrementally revealed directory + checkpoint)."""
    from ..operators.dedup import band_buckets, word_shingles_from_tokens
    from .dedup2 import BANDS, K, SHINGLE_N, bucket_index, portable_minhash_signature

    d_schema = tables(spark, sf_dir)["documents"].select("doc_id", "text").schema
    stream = (
        spark.readStream.schema(d_schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    toked = stream.select("doc_id", "text", F.split(F.col("text"), " ").alias("toks"))
    shingled = toked.select(
        F.col("doc_id").alias("new_id"),
        word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("sh_new"),
    )
    signed = shingled.select(
        "new_id",
        "sh_new",
        portable_minhash_signature(F.col("sh_new"), K).alias("sig"),
    )
    banded = signed.select(
        "new_id",
        "sh_new",
        F.explode(band_buckets(F.col("sig"), BANDS, K // BANDS)).alias("bb"),
    ).select("new_id", "sh_new", "bb.band", "bb.bucket")

    stored = bucket_index(spark, sf_dir).filter(
        (F.col("bucket_n") >= 2) & (F.col("bucket_n") <= 1000)
    )
    # static endpoint-shingle lookup for the partner side of the verify
    sh_static = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            F.col("doc_id").alias("partner_id"),
            word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("sh_partner"),
        )
    )
    cand = (
        banded.join(stored, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("new_id"))
        .select(
            "new_id",
            "sh_new",
            F.col("doc_id").alias("partner_id"),
        )
        .join(sh_static, "partner_id")
    )
    inter = F.size(F.array_intersect(F.col("sh_new"), F.col("sh_partner")))
    union = F.size("sh_new") + F.size("sh_partner") - inter
    return (
        cand.select(
            F.least("new_id", "partner_id").alias("id_a"),
            F.greatest("new_id", "partner_id").alias("id_b"),
            inter.cast("bigint").alias("n_inter"),
            union.cast("bigint").alias("n_union"),
        )
        .filter(2 * F.col("n_inter") >= F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            F.expr("n_inter * 1000000 DIV n_union").cast("bigint").alias("jaccard_q6"),
            (
                ((F.col("id_a") % _SDELTA_MOD) == _SDELTA_REM).cast("int")
                + ((F.col("id_b") % _SDELTA_MOD) == _SDELTA_REM).cast("int")
            ).alias("n_delta_endpoints"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


@query(
    "q_stream_index_probe_dedup_replay",
    oracle=_PAIRS_CTE
    + f"""
    SELECT id_a, id_b, n_inter, n_union,
           CAST(n_inter * 1000000 // n_union AS BIGINT) AS jaccard_q6,
           CAST((CASE WHEN id_a % {_SDELTA_MOD} = {_SDELTA_REM} THEN 1 ELSE 0 END)
              + (CASE WHEN id_b % {_SDELTA_MOD} = {_SDELTA_REM} THEN 1 ELSE 0 END)
              AS INT) AS n_delta_endpoints
    FROM fpairs
    WHERE id_a % {_SDELTA_MOD} = {_SDELTA_REM} OR id_b % {_SDELTA_MOD} = {_SDELTA_REM}
    """,
    tags=("streaming", "dedup", "index", "incremental", "llm-data", "replay", "round11"),
)
def q_stream_index_probe_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's streaming capstone: newly arriving documents (the
    delta slice, streamed as a 2-chunk file source) dedup against the
    STORED band-bucket index IN-FLIGHT — q_pair_index_delta's
    incremental probe lifted into Structured Streaming. Each micro-batch
    row shingles and signs itself with pure codegen expressions (the
    portable per-row signature — no aggregation on the stream side),
    stream-static-joins its banded rows against the index parquet to
    find candidate partners, verifies exact Jaccard against a static
    endpoint-shingle lookup, and a STATEFUL dropDuplicates collapses the
    double discovery of delta-delta pairs (each endpoint's probe finds
    the pair once; both emissions are bit-identical, so the dedup state
    is the only cross-batch memory). The oracle is the full-rebuild
    delta filter — the same hash verdict the batch probe carries — so
    stream == probe == rebuild.

    Production notes stated: the dedup state is unwatermarked (bounded
    here by the replay fixture; a live ingest would watermark on an
    arrival-time column), and per-row signing trades the typed-
    signature batch optimization for streaming statelessness — the
    correct side of the trade when rows arrive one micro-batch at a
    time.

    Scale shape: stream side is O(batch x K md5s) codegen; the index
    join is candidate-scale against a zone-map-sorted parquet; the
    verify join touches only candidate endpoints; state is one row per
    emitted pair.
    """
    from ._util import work_dir
    from .streaming_replay import _write_chunks, run_replay

    d = tables(spark, sf_dir)["documents"].select("doc_id", "text")
    delta = d.filter((F.col("doc_id") % _SDELTA_MOD) == _SDELTA_REM)
    base = work_dir("sidxprobe", sf_dir)
    flat = _write_chunks(
        [
            delta.filter((F.col("doc_id") % 20) == _SDELTA_REM),
            delta.filter((F.col("doc_id") % 20) != _SDELTA_REM),
        ],
        base,
    )
    pairs = build_index_probe_stream(spark, sf_dir, flat)
    return run_replay(spark, pairs, base, shuffle_partitions=4)
