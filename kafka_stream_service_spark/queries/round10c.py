"""Round-10 operator batch 3: survival-tier completion (log-rank test,
Nelson-Aalen hazard), effect size (Cliff's delta), corpus-growth law
(Heaps fit), embedding truncation quality (Matryoshka energy), and the
Brier-score decomposition.

Family placement: the log-rank test and Nelson-Aalen estimator complete
the survival tier around q_kaplan_meier (same durations, same censoring
treatment — the tier now has the curve, the hazard, and the two-group
comparison test). Cliff's delta is the standard effect size reported
NEXT TO Mann-Whitney's p-value — one integer expression over the
already-certified doubled-U machinery. Heaps' law is the canonical
vocabulary-growth diagnostic a corpus owner fits before sizing a
tokenizer. Matryoshka energy quantifies how much cosine mass embedding
truncation keeps (the MRL deployment decision). The Murphy
decomposition splits the Brier score into reliability / resolution /
uncertainty over the same bins as q_ece_calibration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.scan import with_running_totals
from ..plans.barrier import barrier
from ..tables import tables
from .registry import query
from .round7e import _two_sample_hist

# ---------------------------------------------------------------------------
# Log-rank test: urgent-priority vs other orders, KM durations
# ---------------------------------------------------------------------------

_LOGRANK_DUR = """
    dur AS (
      SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT) AS t_days,
             CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END AS ev,
             CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )"""


@query(
    "q_logrank_test",
    oracle=f"""
    WITH {_LOGRANK_DUR},
    g AS (
      SELECT t_days,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c,
             CAST(SUM(ev * grp) AS BIGINT) AS d1,
             CAST(SUM((1 - ev) * grp) AS BIGINT) AS c1
      FROM dur GROUP BY t_days
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(grp) AS BIGINT) AS n1_total
      FROM dur
    ),
    curve AS (
      SELECT t_days, d, d1,
             n_total - SUM(d + c) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + (d + c) AS n,
             n1_total - SUM(d1 + c1) OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + (d1 + c1) AS n1
      FROM g CROSS JOIN tot
    ),
    terms AS (
      SELECT d1,
             CAST(FLOOR(1000000.0 * d * (CAST(n1 AS DOUBLE) / n)) AS BIGINT)
               AS e1_q6,
             CASE WHEN n > 1 THEN
               CAST(FLOOR(1000000000.0 * d * (CAST(n1 AS DOUBLE) / n)
                          * (CAST(n - n1 AS DOUBLE) / n)
                          * (CAST(n - d AS DOUBLE) / (n - 1))) AS BIGINT)
             ELSE 0 END AS v_q9
      FROM curve WHERE d > 0
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           CAST(SUM(e1_q6) AS BIGINT) AS e1_sum_q6,
           CAST(SUM(v_q9) AS BIGINT) AS v_sum_q9,
           CAST(FLOOR(1000000.0 * (SUM(d1) - SUM(e1_q6) / 1000000.0)
                      / sqrt(SUM(v_q9) / 1000000000.0)) AS BIGINT) AS z_q6
    FROM terms
    """,
    tags=("stats", "survival", "hypothesis-test", "round10"),
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group LOG-RANK test on the Kaplan-Meier durations: do
    urgent/high-priority orders ship on a different survival curve than
    the rest? At each event time the observed group-1 events d1 compare
    against the hypergeometric expectation d*n1/n with variance
    d*(n1/n)*(n2/n)*(n-d)/(n-1); z = (O - E)/sqrt(V) over the summed
    terms — the standard censoring-aware A/B test the survival tier
    lacked next to the KM curve itself.

    Exactness: counts and risk sets are exact integers from the KM
    prefix-scan construction; each per-time expectation/variance term is
    one pure-double expression over those integers, floor-quantized
    BEFORE summation (order-free integer sums — the ln-term recipe); the
    final z is one double expression over the three exact sums.

    Scale shape: identical envelope to q_kaplan_meier — one
    orderkey-partitioned join, one groupBy to the duration grain (calendar-bounded — ~4.7k distinct
    day values in the fixture, invariant to data scale), one prefix
    window on that bounded grain, then a scalar aggregate.
    """
    li = tables(spark, sf_dir)["lineitem"]
    o = tables(spark, sf_dir)["orders"]
    dur = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("int").alias("t_days"),
        F.when(F.col("l_returnflag") != "R", 1).otherwise(0).alias("ev"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("grp"),
    )
    g = dur.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("c"),
        F.sum(F.col("ev") * F.col("grp")).cast("bigint").alias("d1"),
        F.sum((1 - F.col("ev")) * F.col("grp")).cast("bigint").alias("c1"),
    )
    tot = dur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("grp").cast("bigint").alias("n1_total"),
    )
    w = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    curve = g.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "d",
        "d1",
        (
            F.col("n_total") - F.sum(F.col("d") + F.col("c")).over(w) + (F.col("d") + F.col("c"))
        ).alias("n"),
        (
            F.col("n1_total")
            - F.sum(F.col("d1") + F.col("c1")).over(w)
            + (F.col("d1") + F.col("c1"))
        ).alias("n1"),
    )
    terms = curve.filter(F.col("d") > 0).select(
        "d1",
        F.floor(
            F.lit(1000000.0) * F.col("d") * (F.col("n1").cast("double") / F.col("n"))
        )
        .cast("bigint")
        .alias("e1_q6"),
        F.when(
            F.col("n") > 1,
            F.floor(
                F.lit(1000000000.0)
                * F.col("d")
                * (F.col("n1").cast("double") / F.col("n"))
                * ((F.col("n") - F.col("n1")).cast("double") / F.col("n"))
                * ((F.col("n") - F.col("d")).cast("double") / (F.col("n") - 1))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("v_q9"),
    )
    return terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1_q6").cast("bigint").alias("e1_sum_q6"),
        F.sum("v_q9").cast("bigint").alias("v_sum_q9"),
        F.floor(
            F.lit(1000000.0)
            * (F.sum("d1") - F.sum("e1_q6") / F.lit(1000000.0))
            / F.sqrt(F.sum("v_q9") / F.lit(1000000000.0))
        )
        .cast("bigint")
        .alias("z_q6"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (the KM curve's hazard-space sibling)
# ---------------------------------------------------------------------------


@query(
    "q_nelson_aalen",
    oracle="""
    WITH dur AS (
      SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT) AS t_days,
             CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END AS ev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    g AS (
      SELECT t_days,
             CAST(SUM(ev) AS BIGINT) AS n_events,
             CAST(COUNT(*) - SUM(ev) AS BIGINT) AS n_censored
      FROM dur GROUP BY t_days
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dur),
    curve AS (
      SELECT t_days, n_events, n_censored,
             n_total - SUM(n_events + n_censored)
                 OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               + (n_events + n_censored) AS n_risk
      FROM g CROSS JOIN tot
    )
    SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           CAST(FLOOR(1000000.0 * CAST(n_events AS DOUBLE) / n_risk) AS BIGINT)
             AS haz_term_q6,
           CAST(SUM(CAST(FLOOR(1000000.0 * CAST(n_events AS DOUBLE) / n_risk)
                    AS BIGINT))
                OVER (ORDER BY t_days
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumhaz_q6
    FROM curve
    """,
    tags=("stats", "survival", "round10"),
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the KM durations:
    H(t) = sum_{u<=t} d_u/n_u — the hazard-space sibling of
    q_kaplan_meier's product-limit survival (same risk sets, same
    censoring treatment; NA is the estimator of choice when hazard
    RATES, not survival fractions, drive the decision). Each d/n term
    floor-quantizes BEFORE the cumulative sum, so the running total is
    an order-free integer (the ln-term recipe in ratio space).

    Scale shape: identical to q_kaplan_meier — duration-grain groupBy
    (calendar-bounded, ~4.7k rows regardless of data scale) + one
    prefix window on that bounded grain.
    """
    li = tables(spark, sf_dir)["lineitem"]
    o = tables(spark, sf_dir)["orders"]
    dur = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("int").alias("t_days"),
        F.when(F.col("l_returnflag") != "R", 1).otherwise(0).alias("ev"),
    )
    g = dur.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("n_censored"),
    )
    tot = dur.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    curve = g.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "n_events",
        (
            F.col("n_total")
            - F.sum(F.col("n_events") + F.col("n_censored")).over(w)
            + (F.col("n_events") + F.col("n_censored"))
        ).alias("n_risk"),
    )
    term = (
        F.floor(F.lit(1000000.0) * F.col("n_events").cast("double") / F.col("n_risk"))
        .cast("bigint")
    )
    return curve.select(
        "t_days",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "n_events",
        term.alias("haz_term_q6"),
        F.sum(term).over(w).cast("bigint").alias("cumhaz_q6"),
    )


# ---------------------------------------------------------------------------
# Cliff's delta effect size from the doubled-U machinery
# ---------------------------------------------------------------------------


@query(
    "q_cliffs_delta",
    oracle="""
    WITH hist AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY value
    ),
    scan AS (
      SELECT c1, c2, c1 + c2 AS t,
             CAST(SUM(c1 + c2) OVER (ORDER BY value) AS BIGINT) AS cum_t
      FROM hist
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(c1 * (2 * cum_t - t + 1)) AS BIGINT) AS two_r1
      FROM scan
    ),
    u AS (
      SELECT n1, n2,
             CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS two_u1,
             CAST(2 * n1 * n2 - (two_r1 - n1 * (n1 + 1)) AS BIGINT) AS two_u2
      FROM agg
    )
    SELECT n1, n2, two_u1, two_u2,
           CAST(FLOOR(1000000.0 * (two_u1 - two_u2) / (2.0 * n1 * n2)) AS BIGINT)
             AS cliffs_delta_q6
    FROM u
    """,
    tags=("stats", "effect-size", "rank-sum", "round10"),
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (= the Mann-Whitney rank-biserial correlation):
    the EFFECT SIZE reported next to q_mannwhitney_u's test statistic —
    delta = (#(x>y) - #(x<y)) / (n1*n2) = (U1 - U2)/(n1*n2), with ties
    contributing zero exactly as the doubled-midrank U treats them.
    Composes the SAME histogram + distributed-prefix-scan plan body as
    the U test (shared machinery: _two_sample_hist +
    operators/scan.with_running_totals), so the effect size can never
    disagree with the test it annotates.

    Exactness: everything integer through 2U1/2U2; delta is one double
    division of exact integers, floor-quantized.

    Scale shape: one histogram groupBy, one distributed prefix scan,
    one bounded aggregate — the q_ks_two_sample envelope.
    """
    hist = _two_sample_hist(spark, sf_dir, "click", "purchase").withColumn(
        "t", F.col("c1") + F.col("c2")
    )
    scanned = with_running_totals(hist, ["value"], ["t"])
    agg = scanned.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("cum_t") - F.col("t") + 1))
        .cast("bigint")
        .alias("two_r1"),
    )
    u = agg.select(
        "n1",
        "n2",
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("bigint").alias("two_u1"),
        (
            2 * F.col("n1") * F.col("n2")
            - (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1))
        )
        .cast("bigint")
        .alias("two_u2"),
    )
    return u.select(
        "n1",
        "n2",
        "two_u1",
        "two_u2",
        F.floor(
            F.lit(1000000.0)
            * (F.col("two_u1") - F.col("two_u2"))
            / (F.lit(2.0) * F.col("n1") * F.col("n2"))
        )
        .cast("bigint")
        .alias("cliffs_delta_q6"),
    )


# ---------------------------------------------------------------------------
# Heaps' law fit: vocabulary growth over deterministic corpus prefixes
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 10


@query(
    "q_heaps_law_fit",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.w AS w,
             CAST(('0x' || substr(md5('41:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_HEAPS_BUCKETS} AS bucket
      FROM documents, unnest(string_split(text, ' ')) AS u(w)
    ),
    wmin AS (SELECT w, CAST(MIN(bucket) AS BIGINT) AS min_b FROM tok GROUP BY w),
    btok AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY bucket),
    pts AS (
      SELECT f.f,
             CAST((SELECT SUM(n_tok) FROM btok WHERE bucket < f.f) AS BIGINT)
               AS n_tokens,
             CAST((SELECT COUNT(*) FROM wmin WHERE min_b < f.f) AS BIGINT)
               AS v_words
      FROM (SELECT unnest(range(1, {_HEAPS_BUCKETS + 1})) AS f) f
    ),
    q AS (
      -- drop empty prefixes (no tokens yet / no word types yet) so the
      -- point set matches the Spark side's inner joins exactly — a NULL
      -- or 0 here would otherwise skew k and hit ln(0) on sparse data
      SELECT f, n_tokens, v_words,
             CAST(FLOOR(1000000.0 * ln(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS x_q6,
             CAST(FLOOR(1000000.0 * ln(CAST(v_words AS DOUBLE))) AS BIGINT) AS y_q6
      FROM pts
      WHERE n_tokens IS NOT NULL AND n_tokens > 0
        AND v_words IS NOT NULL AND v_words > 0
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x_q6) AS BIGINT) AS sx, CAST(SUM(y_q6) AS BIGINT) AS sy,
             CAST(SUM(x_q6 * y_q6) AS BIGINT) AS sxy,
             CAST(SUM(x_q6 * x_q6) AS BIGINT) AS sxx
      FROM q
    )
    SELECT q.f, q.n_tokens, q.v_words, q.x_q6, q.y_q6,
           CAST(FLOOR(1000000.0 * (CAST(fit.k * fit.sxy - fit.sx * fit.sy AS DOUBLE)
                / CAST(fit.k * fit.sxx - fit.sx * fit.sx AS DOUBLE))) AS BIGINT)
             AS beta_q6
    FROM q CROSS JOIN fit
    """,
    tags=("text", "corpus-stats", "llm-data", "round10"),
)
def q_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V = K*N^beta: ten deterministic
    cumulative corpus prefixes (documents bucketed by portable hash, so
    prefix membership is identical on both engines and at any
    parallelism), each contributing a (total tokens, distinct words)
    point, with beta from the closed-form OLS slope on the ln-ln points
    — the diagnostic a corpus owner fits before sizing tokenizer vocab
    or estimating dedup headroom (sub-linear beta = vocabulary
    saturating = duplication).

    The distinct-words-per-prefix trick: V(f) needs COUNT(DISTINCT word)
    over every prefix — naively {_HEAPS_BUCKETS} distinct-aggregations.
    One pass suffices: each word type's MINIMUM bucket is the first
    prefix containing it, so V(f) = #types with min_bucket < f and
    N(f) = prefix-sum of per-bucket token counts.

    Exactness: ln values floor-quantize per POINT before the fit, so
    the OLS sums are exact integers (the q_ols_normal_equations
    treatment); the slope is one double division of exact integers.

    Scale shape: one token explode feeding two map-side-combinable
    groupBys (type grain and 10-bucket grain); the fit runs on 10 rows.
    """
    from .dedup2 import portable_hash64

    d = tables(spark, sf_dir)["documents"]
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("bucket", portable_hash64(F.col("doc_id").cast("string"), 41) % _HEAPS_BUCKETS)
    wmin = tok.groupBy("w").agg(F.min("bucket").cast("bigint").alias("min_b"))
    btok = tok.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    fgrid = spark.range(1, _HEAPS_BUCKETS + 1).select(F.col("id").alias("f"))
    ntk = (
        fgrid.join(btok, btok.bucket < fgrid.f)
        .groupBy("f")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    vwd = (
        fgrid.join(wmin, wmin.min_b < fgrid.f)
        .groupBy("f")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v_words"))
    )
    pts = ntk.join(vwd, "f").select(
        "f",
        "n_tokens",
        "v_words",
        F.floor(F.lit(1000000.0) * F.log(F.col("n_tokens").cast("double")))
        .cast("bigint")
        .alias("x_q6"),
        F.floor(F.lit(1000000.0) * F.log(F.col("v_words").cast("double")))
        .cast("bigint")
        .alias("y_q6"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x_q6").cast("bigint").alias("sx"),
        F.sum("y_q6").cast("bigint").alias("sy"),
        F.sum(F.col("x_q6") * F.col("y_q6")).cast("bigint").alias("sxy"),
        F.sum(F.col("x_q6") * F.col("x_q6")).cast("bigint").alias("sxx"),
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "f",
        "n_tokens",
        "v_words",
        "x_q6",
        "y_q6",
        F.floor(
            F.lit(1000000.0)
            * (
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
            )
        )
        .cast("bigint")
        .alias("beta_q6"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation energy (how much cosine a dim-prefix keeps)
# ---------------------------------------------------------------------------

_MRL_PREFIXES = (8, 16, 32, 64)


@query(
    "q_matryoshka_energy",
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
    pref AS (
      SELECT vec_id, label, p.d,
             CAST(list_sum(list_transform(list_slice(qv, 1, p.d),
                  x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS e_d,
             CAST(list_sum(list_transform(qv,
                  x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS e_full
      FROM q8, (SELECT unnest([{", ".join(str(p) for p in _MRL_PREFIXES)}]) AS d) p
    ),
    perv AS (
      SELECT label, d,
             CAST(FLOOR(1000000.0 * sqrt(CAST(e_d AS DOUBLE) / e_full)) AS BIGINT)
               AS cos_q6
      FROM pref WHERE e_full > 0
    )
    SELECT label, CAST(d AS INT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cos_q6) AS BIGINT) AS sum_cos_q6,
           CAST(SUM(cos_q6) // COUNT(*) AS BIGINT) AS avg_cos_q6
    FROM perv GROUP BY label, d
    """,
    tags=("similarity", "embedding", "truncation", "llm-data", "round10"),
)
def q_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality: for dim prefixes
    {_MRL_PREFIXES}, the cosine between each vector's prefix and its
    full self is exactly sqrt(prefix energy / total energy) (the prefix
    dot against the full vector IS the prefix norm-squared), aggregated
    per label — the number an MRL deployment reads to pick how many
    dimensions to keep per retrieval tier.

    Exactness: energies are exact integer sums of squares in int8
    space; the per-vector cosine is one double sqrt over two exact
    integers, floor-quantized BEFORE the per-label sum (order-free
    integer aggregation); the average is one integer floor division.

    Scale shape: one scan with a 4-way prefix fan-out per vector (no
    joins, no pair space); per-label rollup is map-side combinable.
    """
    e = tables(spark, sf_dir)["embeddings"]
    scaled = (
        e.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
            F.expr(
                "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"
            ).alias("scale"),
        )
        .filter(F.col("scale") > 0)
    )
    # keep scale out of qv's lambda
    quant = barrier(scaled, "fence").select(
        "vec_id",
        "label",
        F.expr("transform(v, x -> CAST(round(x / scale) AS INT))").alias("qv"),
    )
    energy = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint") * x.cast("bigint")
    )
    pref = quant.select(
        "vec_id",
        "label",
        F.explode(F.array(*[F.lit(p) for p in _MRL_PREFIXES])).alias("d"),
        energy(F.col("qv")).alias("e_full"),
        F.col("qv"),
    ).select(
        "vec_id",
        "label",
        "d",
        energy(F.expr("slice(qv, 1, d)")).alias("e_d"),
        "e_full",
    )
    perv = pref.filter(F.col("e_full") > 0).select(
        "label",
        "d",
        F.floor(
            F.lit(1000000.0) * F.sqrt(F.col("e_d").cast("double") / F.col("e_full"))
        )
        .cast("bigint")
        .alias("cos_q6"),
    )
    return perv.groupBy("label", F.col("d").cast("int").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cos_q6").cast("bigint").alias("sum_cos_q6"),
        F.expr("CAST(SUM(cos_q6) DIV COUNT(*) AS BIGINT)").alias("avg_cos_q6"),
    )


# ---------------------------------------------------------------------------
# Brier-score (Murphy) decomposition over the ECE calibration bins
# ---------------------------------------------------------------------------

_BRIER_BINS = 10


@query(
    "q_brier_decomposition",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             n_chars,
             CASE WHEN list_contains(string_split(text, ' '), 'dup')
                  THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    s AS (
      SELECT doc_id, label,
             CAST(FLOOR(1000000.0 * (1.0 / (1.0 + exp(-(
               -1.5 + 0.8 * (CAST(n_tok AS DOUBLE) / 100.0)
               + 2.0 * (CAST(n_uniq AS DOUBLE) / CAST(n_tok AS DOUBLE))
               + -0.3 * (CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE))
               + 1.2 * CAST(label AS DOUBLE)
             ))))) AS BIGINT) AS score_q6
      FROM f
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS n_pos
      FROM s
    ),
    b AS (
      SELECT LEAST(CAST(score_q6 // 100000 AS INT), {_BRIER_BINS - 1}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(label) AS BIGINT) AS pos_b,
             CAST(SUM(score_q6) AS BIGINT) AS sum_score_q6
      FROM s GROUP BY 1
    )
    SELECT bin, n_b, pos_b, sum_score_q6,
           CAST(FLOOR(1000000000.0 * (CAST(n_b AS DOUBLE) / t.n)
                * (CAST(sum_score_q6 AS DOUBLE) / n_b / 1000000.0
                   - CAST(pos_b AS DOUBLE) / n_b)
                * (CAST(sum_score_q6 AS DOUBLE) / n_b / 1000000.0
                   - CAST(pos_b AS DOUBLE) / n_b)) AS BIGINT) AS rel_term_q9,
           CAST(FLOOR(1000000000.0 * (CAST(n_b AS DOUBLE) / t.n)
                * (CAST(pos_b AS DOUBLE) / n_b - CAST(t.n_pos AS DOUBLE) / t.n)
                * (CAST(pos_b AS DOUBLE) / n_b - CAST(t.n_pos AS DOUBLE) / t.n))
                AS BIGINT) AS res_term_q9,
           CAST(FLOOR(1000000000.0 * (CAST(t.n_pos AS DOUBLE) / t.n)
                * (1.0 - CAST(t.n_pos AS DOUBLE) / t.n)) AS BIGINT) AS unc_q9
    FROM b CROSS JOIN tot t
    """,
    tags=("mlops", "calibration", "evaluation", "round10"),
)
def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the binned Brier score for the
    q_logreg_score_text classifier: per confidence bin, the RELIABILITY
    term (n_b/N)*(conf_b - acc_b)^2 and RESOLUTION term
    (n_b/N)*(acc_b - base_rate)^2, plus the shared UNCERTAINTY
    base_rate*(1-base_rate) — Brier = REL - RES + UNC, the
    decomposition that tells a model owner whether a bad score comes
    from miscalibration (fixable by isotonic recalibration —
    q_isotonic_calibration is the companion) or from the classifier
    simply not separating classes. Same bins, same quantized-score
    sums as q_ece_calibration, so the calibration tier reads one
    consistent binning.

    Exactness: bin counts and quantized-score sums are exact integers;
    each term is one pure-double expression over them, floor-quantized
    at 1e9 per BIN so the three decomposition totals are order-free
    integer sums.

    Scale shape: one shuffle-free scoring pass, a 10-bin groupBy, and a
    broadcast of the two-value total — the q_ece_calibration envelope.
    """
    from .round8f import _lr_score_col

    d = tables(spark, sf_dir)["documents"]
    s = d.select(
        "doc_id",
        F.when(F.array_contains(F.split("text", " "), "dup"), 1)
        .otherwise(0)
        .alias("label"),
        _lr_score_col().alias("score_q6"),
    )
    tot = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    b = s.groupBy(
        F.least((F.col("score_q6") / 100000).cast("int"), F.lit(_BRIER_BINS - 1)).alias(
            "bin"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("label").cast("bigint").alias("pos_b"),
        F.sum("score_q6").cast("bigint").alias("sum_score_q6"),
    )
    conf = F.col("sum_score_q6").cast("double") / F.col("n_b") / F.lit(1000000.0)
    acc = F.col("pos_b").cast("double") / F.col("n_b")
    base = F.col("n_pos").cast("double") / F.col("n")
    wgt = F.col("n_b").cast("double") / F.col("n")
    return b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_b",
        "pos_b",
        "sum_score_q6",
        F.floor(F.lit(1000000000.0) * wgt * (conf - acc) * (conf - acc))
        .cast("bigint")
        .alias("rel_term_q9"),
        F.floor(F.lit(1000000000.0) * wgt * (acc - base) * (acc - base))
        .cast("bigint")
        .alias("res_term_q9"),
        F.floor(F.lit(1000000000.0) * base * (F.lit(1.0) - base))
        .cast("bigint")
        .alias("unc_q9"),
    )
