"""Round-11 batch 8: the stored-index pattern extended to MODEL
artifacts — a persisted Kneser-Ney bigram language model with a
document-perplexity serving probe (the CCNet-style quality filter run
the way production runs it: train once, store, score every shard from
the stored table) — plus a CUSUM drift detector over the daily event
stream.

Reference parity note: the reference (StreamsApplication.java) is a
Kafka transform pass-through with no LM/quality surface; these extend
the mandated LLM-data-pipeline tier (task brief: text quality scoring /
monitoring) with exact-arithmetic driver oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import tables
from .registry import query
from .stored import StoredIndex

# ---------------------------------------------------------------------------
# Stored Kneser-Ney bigram LM (absolute discount D = 3/4, round11b maths)
# ---------------------------------------------------------------------------

# P_KN(w2|w1) with D = 3/4 is the exact rational num/den with
#   num = max(4*c12 - 3, 0) * Nbb + 3 * N1fw(w1) * N1bw(w2)
#   den = 4 * c1(w1) * Nbb
# (see q_kneser_ney_bigram, round11b.py — same derivation, same fixture
# corpus, proven bit-stable across engines). The STORED table keeps the
# per-bigram log-probability quantized once at build time:
#   lp_q9 = floor(1e9 * ln(num / den))
# num >= Nbb >= 1 and den > 0, so the log is always defined; num and den
# are exact integers < 2^53, the division is one IEEE-identical double
# op, and every downstream consumer does INTEGER arithmetic on lp_q9 —
# the serving path never re-touches floats.


def _kn_bigram_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full KN bigram table (w1, w2, c12, c1, n1_fw, n1_bw, nbb,
    lp_q9) derived from scratch — the builder body and the
    hash-equality reference for the stored artifact."""
    d = tables(spark, sf_dir)["documents"]
    toked = d.select(F.split(F.col("text"), " ").alias("toks"))
    bg = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda i: F.struct(
                    F.try_element_at(F.col("toks"), i.cast("int")).alias("w1"),
                    F.try_element_at(F.col("toks"), (i + 1).cast("int")).alias("w2"),
                ),
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1_fw"),
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1_bw"))
    nbb = c12.agg(F.count(F.lit(1)).cast("bigint").alias("nbb"))
    num = (
        F.greatest(4 * F.col("c12") - 3, F.lit(0)) * F.col("nbb")
        + 3 * F.col("n1_fw") * F.col("n1_bw")
    ).cast("double")
    den = (4 * F.col("c1") * F.col("nbb")).cast("double")
    return (
        c12.join(F.broadcast(c1), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(nbb))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "n1_fw",
            "n1_bw",
            "nbb",
            F.floor(F.lit(1000000000.0) * F.log(num / den))
            .cast("bigint")
            .alias("lp_q9"),
        )
    )


# The stored KN bigram LM; the revision token changes whenever the LM
# derivation does. Sorted by w1 so a serving probe for a handful of
# contexts reads w1-clustered row groups via zone maps.
KN_LM = StoredIndex(
    tag="kn_lm",
    rev="r1kn34",
    source="documents",
    derive=lambda spark, sf_dir: (_kn_bigram_table(spark, sf_dir), ("w1", "w2")),
)


# Shared oracle CTE text: the KN table derived from scratch in DuckDB.
_KN_SQL = """
    toked AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT u.g[1] AS w1, u.g[2] AS w2
      FROM toked, unnest(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> [toks[i], toks[i + 1]])) AS u(g)
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                  CAST(COUNT(*) AS BIGINT) AS n1_fw FROM c12 GROUP BY 1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1_bw FROM c12 GROUP BY 1),
    nbb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM c12),
    kn AS (
      SELECT b.w1, b.w2, b.c12, c1.c1, c1.n1_fw, cont.n1_bw, nbb.nbb,
             CAST(FLOOR(1000000000.0
                  * ln(CAST(GREATEST(4 * b.c12 - 3, 0) * nbb.nbb
                            + 3 * c1.n1_fw * cont.n1_bw AS DOUBLE)
                       / CAST(4 * c1.c1 * nbb.nbb AS DOUBLE))) AS BIGINT) AS lp_q9
      FROM c12 b
      JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN nbb
    )"""


@query(
    "q_kn_lm_stored",
    oracle=f"""
    WITH {_KN_SQL}
    SELECT w1, c1, n1_fw,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(lp_q9) AS BIGINT) AS sum_lp_q9,
           CAST(MIN(lp_q9) AS BIGINT) AS min_lp_q9,
           CAST(MAX(lp_q9) AS BIGINT) AS max_lp_q9
    FROM kn
    GROUP BY w1, c1, n1_fw
    ORDER BY c1 DESC, w1 LIMIT 20
    """,
    tags=("text", "language-model", "index", "stored-artifact", "llm-data", "round11"),
)
def q_kn_lm_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build -> persist -> READ certification for the stored Kneser-Ney
    bigram LM: the per-context census (top-20 contexts by count) is
    computed FROM THE PARQUET ARTIFACT, while the oracle re-derives the
    LM from scratch — a green hash verdict therefore proves the stored
    model is bit-identical to the derivation, the same one-verdict
    contract as q_pair_index_snapshot / q_bm25_stored_index.

    Scale shape: the LM table is vocabulary^2-bounded (tiny vs corpus —
    it's a MODEL, not data); the census is one map-side-combinable
    groupBy over it plus a top-20 TakeOrdered. At 100 TB the build cost
    is one bigram explode + three bounded aggregations, paid ONCE, and
    every downstream quality-filter shard run reads parquet.
    """
    lm = KN_LM.read(spark, sf_dir)
    return (
        lm.groupBy("w1", "c1", "n1_fw")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("lp_q9").cast("bigint").alias("sum_lp_q9"),
            F.min("lp_q9").cast("bigint").alias("min_lp_q9"),
            F.max("lp_q9").cast("bigint").alias("max_lp_q9"),
        )
        .orderBy(F.col("c1").desc(), "w1")
        .limit(20)
    )


@query(
    "q_doc_logprob_stored_lm",
    oracle=f"""
    WITH {_KN_SQL},
    dbg AS (
      SELECT t.doc_id, u.g[1] AS w1, u.g[2] AS w2,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toked t, unnest(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> [toks[i], toks[i + 1]])) AS u(g)
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(SUM(d.cnt) AS BIGINT) AS n_bg,
             CAST(SUM(d.cnt * kn.lp_q9) AS BIGINT) AS total_lp_q9
      FROM dbg d JOIN kn ON kn.w1 = d.w1 AND kn.w2 = d.w2
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_bg, total_lp_q9,
           CAST(FLOOR(CAST(total_lp_q9 AS DOUBLE) / n_bg) AS BIGINT) AS avg_lp_q9,
           CAST(FLOOR(CAST(total_lp_q9 AS DOUBLE) / n_bg / 250000000.0)
                AS BIGINT) AS ppl_bucket
    FROM scored
    """,
    tags=("text", "quality", "language-model", "serving", "llm-data", "round11"),
)
def q_doc_logprob_stored_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring against the STORED LM — the CCNet
    perplexity filter (Wenzek et al. 2020) in its production shape:
    every document's bigram instances join the persisted Kneser-Ney
    table (never re-derived), accumulate an exact integer total
    log-probability, and land in a quarter-nat average-logprob bucket
    (CCNet's head/middle/tail generalized to fixed-width bins, no
    global sort). The oracle re-derives the LM from scratch, so the
    verdict proves stored-serve == fresh-derivation end to end.

    Exactness: lp_q9 is quantized once at build; per-doc totals are
    integer sums; avg and bucket are FLOOR over one double division of
    exact integers < 2^53 (IEEE-identical across engines).

    Scale shape (100 TB): the LM is vocab^2-bounded -> BROADCAST to the
    doc-bigram side; the corpus never shuffles for the join, and the
    per-doc aggregation is map-side combinable on doc_id. The bucket
    assignment is per-row arithmetic — no ntile, no global sort — so
    the filter is embarrassingly parallel at any scale.
    """
    lm = KN_LM.read(spark, sf_dir).select("w1", "w2", "lp_q9")
    d = tables(spark, sf_dir)["documents"]
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    dbg = (
        toked.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
                    lambda i: F.struct(
                        F.try_element_at(F.col("toks"), i.cast("int")).alias("w1"),
                        F.try_element_at(F.col("toks"), (i + 1).cast("int")).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    scored = (
        dbg.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bg"),
            F.sum(F.col("cnt") * F.col("lp_q9")).cast("bigint").alias("total_lp_q9"),
        )
    )
    avg = F.col("total_lp_q9").cast("double") / F.col("n_bg")
    return scored.select(
        "doc_id",
        "n_bg",
        "total_lp_q9",
        F.floor(avg).cast("bigint").alias("avg_lp_q9"),
        F.floor(avg / F.lit(250000000.0)).cast("bigint").alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection over the daily event stream
# ---------------------------------------------------------------------------


@query(
    "q_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.x, s.n_days, s.total,
             8 * s.n_days * d.x - 9 * s.total AS dev_s
      FROM daily d JOIN st s USING (event_type)
    ),
    cs AS (
      SELECT event_type, day, x, n_days, total,
             SUM(dev_s) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs_s
      FROM dev
    ),
    cm AS (
      SELECT event_type, day, x, n_days, total, cs_s,
             LEAST(CAST(0 AS BIGINT),
                   MIN(cs_s) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS lo_s
      FROM cs
    )
    SELECT event_type, day, x,
           CAST(cs_s - lo_s AS BIGINT) AS cusum_s,
           CAST(CASE WHEN cs_s - lo_s > 2 * n_days * total
                THEN 1 ELSE 0 END AS BIGINT) AS alarm
    FROM cm
    """,
    tags=("monitoring", "drift", "timeseries", "window", "round11"),
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection (Page 1954) on daily event
    volume per event type — the SEQUENTIAL monitoring twin of
    q_cusum_changepoint (round8.py), which scores the single best
    retrospective mean-shift; this one emits the online alarm statistic
    a production drift monitor tails. The recursive statistic
    S_d = max(0, S_{d-1} + (x_d - mu - k)) is re-expressed CLOSED-FORM
    as cs_d - min(0, min_{j<=d} cs_j) over the prefix sums of the
    deviations — the standard reflection identity — so the whole
    detector is two stacked window functions instead of an iterative
    loop. Slack k = mu/8; everything is scaled by 8*n_days to stay in
    exact integer arithmetic (dev_s = 8*n*x_d - 9*total), and the alarm
    threshold h = n*total/4 in original units (2*n_days*total scaled).

    Exactness: counts, prefix sums, prefix minima, and the alarm
    comparison are all exact BIGINT ops — no floats anywhere.

    Scale shape (100 TB): the raw stream collapses to (type, day) grain
    map-side before any window; the two windows partition by event_type
    (parallel across types) over day-count-bounded partitions — the
    same SF-invariant aggregated-grain contract as the other monitoring
    rows (PSI, runs test, Mann-Kendall).
    """
    e = tables(spark, sf_dir)["events"]
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("total"),
    )
    dev = daily.join(F.broadcast(st), "event_type").withColumn(
        "dev_s", 8 * F.col("n_days") * F.col("x") - 9 * F.col("total")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = dev.withColumn("cs_s", F.sum("dev_s").over(w)).withColumn(
        "lo_s", F.least(F.lit(0).cast("bigint"), F.min(F.col("cs_s")).over(w))
    )
    return cs.select(
        "event_type",
        "day",
        "x",
        (F.col("cs_s") - F.col("lo_s")).cast("bigint").alias("cusum_s"),
        F.when(
            F.col("cs_s") - F.col("lo_s") > 2 * F.col("n_days") * F.col("total"), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("alarm"),
    )
