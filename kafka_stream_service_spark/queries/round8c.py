"""Round-8 operator batch 3: rank correlations (Kendall tau-b at the
day grain, Spearman rho at data scale), one-way ANOVA, classical
seasonal decomposition, and two-stage ANN retrieval (coarse LSH
shortlist + exact re-rank).

Family placement: Kendall and Spearman complete the correlation tier
(q_corr_covar is Pearson; Theil-Sen is the robust slope) with the two
standard rank-based measures; ANOVA is the k-group generalization of
the two-sample tests (q_ks_two_sample, q_mannwhitney_u); seasonal
decomposition upgrades q_seasonal_weekday_deviation from raw weekday
means to the trend/seasonal/residual split; the two-stage retriever is
the production ANN serving recipe (coarse quantizer shortlist, exact
re-rank) that the portable LSH-bucket and dot-product pieces existed
for but never composed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .clustering import _PLANES
from .corpus_ops import _QUANT_SQL, _quantized
from .registry import query

# ---------------------------------------------------------------------------
# Kendall tau-b (day grain, fully integer concordance counts)
# ---------------------------------------------------------------------------


@query(
    "q_kendall_tau",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN SIGN(a.x - b.x) * SIGN(a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
             CASE WHEN SIGN(a.x - b.x) * SIGN(a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tie_x,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tie_y
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    s AS (
      SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
             CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(conc) AS BIGINT) AS n_concordant,
             CAST(SUM(disc) AS BIGINT) AS n_discordant,
             CAST(SUM(tie_x) AS BIGINT) AS ties_x,
             CAST(SUM(tie_y) AS BIGINT) AS ties_y
      FROM p
    )
    SELECT n_days, n_concordant, n_discordant, ties_x, ties_y,
           CAST(FLOOR(1000000.0 * (
             CAST(n_concordant - n_discordant AS DOUBLE)
             / (sqrt(CAST(n0 - ties_x AS DOUBLE)) * sqrt(CAST(n0 - ties_y AS DOUBLE)))
           )) AS BIGINT) AS tau_b_q6
    FROM s
    """,
    tags=("stats", "correlation", "round8"),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between 1997's daily shipment
    count and daily revenue: concordant/discordant/tied pair censuses
    over the day-grain series — every count a pure integer — with the
    tie-corrected tau-b = (C - D)/sqrt((n0 - Tx)(n0 - Ty)) as one fixed
    double expression (IEEE sqrt is correctly rounded, so it is
    bit-identical across engines given identical integer inputs).
    Concordance compares SIGN(dx)*SIGN(dy), never the raw product
    dx*dy: revenue-cents deltas at large SF would push the product past
    int64, where Spark (non-ANSI) wraps silently while DuckDB raises —
    the sign product is overflow-free at any magnitude (ADVICE r8).

    Scale shape: the O(days^2) pair frame exists only AFTER the groupBy
    collapses data-scale rows to <=366 day rows (same bounded-pair
    argument as q_theil_sen_slope, whose docstring names the sampling
    fallback for century-scale series). The day self-join is ~67k rows.
    """
    li = tables(spark, sf_dir)["lineitem"]
    daily = barrier(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y"),
        ),
        "reuse",  # feeds both sides of the pair join
    )
    a, b = daily.alias("a"), daily.alias("b")
    # SIGN(dx)*SIGN(dy), not dx*dy: the raw product overflows int64 at
    # large SF (Spark wraps, DuckDB raises); the sign product never can.
    sgn = F.signum((F.col("a.x") - F.col("b.x")).cast("double")) * F.signum(
        (F.col("a.y") - F.col("b.y")).cast("double")
    )
    p = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(sgn > 0, 1).otherwise(0).alias("conc"),
        F.when(sgn < 0, 1).otherwise(0).alias("disc"),
        F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0).alias("tie_x"),
        F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0).alias("tie_y"),
    )
    s = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("conc").cast("bigint").alias("n_concordant"),
        F.sum("disc").cast("bigint").alias("n_discordant"),
        F.sum("tie_x").cast("bigint").alias("ties_x"),
        F.sum("tie_y").cast("bigint").alias("ties_y"),
    ).crossJoin(F.broadcast(daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))))
    tau = (F.col("n_concordant") - F.col("n_discordant")).cast("double") / (
        F.sqrt((F.col("n0") - F.col("ties_x")).cast("double"))
        * F.sqrt((F.col("n0") - F.col("ties_y")).cast("double"))
    )
    return s.select(
        "n_days",
        "n_concordant",
        "n_discordant",
        "ties_x",
        "ties_y",
        F.floor(F.lit(1000000.0) * tau).cast("bigint").alias("tau_b_q6"),
    )


# ---------------------------------------------------------------------------
# Spearman rho at data scale (tie-averaged ranks via the value histogram)
# ---------------------------------------------------------------------------


@query(
    "q_spearman_rho",
    oracle="""
    WITH rows_xy AS (
      SELECT CAST(l_quantity AS BIGINT) AS xv,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS yv
      FROM lineitem
    ),
    xh AS (SELECT xv, CAST(COUNT(*) AS BIGINT) AS c FROM rows_xy GROUP BY xv),
    xr AS (  -- doubled tie-averaged rank: 2*avg_rank = 2*cum - c + 1
      SELECT xv,
             2 * SUM(c) OVER (ORDER BY xv
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c + 1 AS r2x
      FROM xh
    ),
    yh AS (SELECT yv, CAST(COUNT(*) AS BIGINT) AS c FROM rows_xy GROUP BY yv),
    yr AS (
      SELECT yv,
             2 * SUM(c) OVER (ORDER BY yv
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - c + 1 AS r2y
      FROM yh
    ),
    ranked AS (
      SELECT CAST(xr.r2x AS BIGINT) AS r2x, CAST(yr.r2y AS BIGINT) AS r2y
      FROM rows_xy r JOIN xr ON xr.xv = r.xv JOIN yr ON yr.yv = r.yv
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(r2x) AS HUGEINT) AS sx, CAST(SUM(r2y) AS HUGEINT) AS sy,
             CAST(SUM(r2x * r2x) AS HUGEINT) AS sxx,
             CAST(SUM(r2y * r2y) AS HUGEINT) AS syy,
             CAST(SUM(r2x * r2y) AS HUGEINT) AS sxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM xh) AS BIGINT) AS nx_distinct,
           CAST((SELECT COUNT(*) FROM yh) AS BIGINT) AS ny_distinct,
           CAST(FLOOR(1000000.0 * (
             CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
           )) AS BIGINT) AS rho_q6
    FROM m
    """,
    tags=("stats", "correlation", "ranks", "round8"),
)
def q_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice
    over EVERY lineitem row — rho = Pearson on tie-averaged ranks. The
    rank transform runs on the VALUE HISTOGRAM, not the rows: one
    groupBy per variable collapses to the distinct-value grain, a
    prefix-sum window over that grain yields the doubled average rank
    2*cum - count + 1 (doubling keeps .5-average ranks integer), and the
    rows join their value's rank back. All five moment sums are exact
    integers; the three n-scaled products (n*Sxy - Sx*Sy, ...) run in
    HUGEINT/DECIMAL(38,0) (they reach ~1e24 at sf0.1) before one double
    division + correctly-rounded sqrt.

    Scale shape: two histogram groupBys + two bounded-grain windows
    (quantity has 50 distinct values; price cents a bounded domain —
    windows run on the histogram, never the rows) + two value-keyed
    joins + one global aggregate with map-side partials. At 1e12 rows
    the doubled ranks reach ~2e12, so the per-row squares would need the
    decimal cast pushed to row level — noted, not needed at fixture SFs.
    """
    li = tables(spark, sf_dir)["lineitem"]
    rows_xy = li.select(
        F.col("l_quantity").cast("bigint").alias("xv"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint").alias("yv"),
    )
    w = lambda c: Window.orderBy(c).rowsBetween(Window.unboundedPreceding, 0)  # noqa: E731

    def rank_map(col: str, r2: str) -> DataFrame:
        h = rows_xy.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        return h.select(
            col,
            (2 * F.sum("c").over(w(col)) - F.col("c") + 1).cast("bigint").alias(r2),
        )

    xr, yr = rank_map("xv", "r2x"), rank_map("yv", "r2y")
    ranked = rows_xy.join(F.broadcast(xr), "xv").join(yr, "yv")
    m = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("r2x").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("r2y").cast("decimal(38,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum((F.col("r2x") * F.col("r2x")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum((F.col("r2y") * F.col("r2y")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("syy"),
        F.sum((F.col("r2x") * F.col("r2y")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
    )
    counts = (
        xr.agg(F.count(F.lit(1)).cast("bigint").alias("nx_distinct"))
        .crossJoin(yr.agg(F.count(F.lit(1)).cast("bigint").alias("ny_distinct")))
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
        * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    )
    return m.crossJoin(F.broadcast(counts)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        "nx_distinct",
        "ny_distinct",
        F.floor(F.lit(1000000.0) * rho).cast("bigint").alias("rho_q6"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA over event values by type
# ---------------------------------------------------------------------------


@query(
    "q_anova_oneway",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(cents) AS BIGINT) AS t_g,
             CAST(SUM(cents * cents) AS BIGINT) AS ss_g,
             CAST(FLOOR(CAST(SUM(cents) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE)
                        / COUNT(*)) AS BIGINT) AS term_g
      FROM v GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(t_g) AS BIGINT) AS t,
             CAST(SUM(ss_g) AS BIGINT) AS ss,
             CAST(SUM(term_g) AS BIGINT) AS sum_terms
      FROM g
    )
    SELECT k, n,
           CAST(FLOOR(CAST(sum_terms AS DOUBLE)
                      - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                AS BIGINT) AS ssb_floor,
           CAST(ss - sum_terms AS BIGINT) AS ssw_floor,
           CAST(FLOOR(1000000.0 * (
             (CAST(FLOOR(CAST(sum_terms AS DOUBLE)
                         - CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                   AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             / (CAST(ss - sum_terms AS DOUBLE) / CAST(n - k AS DOUBLE))
           )) AS BIGINT) AS f_stat_q6
    FROM tot
    """,
    tags=("stats", "anova", "round8"),
)
def q_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for event value (cents) across the 5
    event types — the k-group generalization of the catalog's two-sample
    tests (KS, Mann-Whitney). Between/within sums of squares come from
    per-group integer moments via SSB = sum_g T_g^2/n_g - T^2/N and
    SSW = SS - sum_g T_g^2/n_g, with each group's T_g^2/n_g FLOORED to
    an integer before the cross-group sum (the per-TYPE quantize-then-
    sum recipe: 5 doubles summed in engine order would be
    order-dependent; 5 integers are not). T^2 runs as a double product
    (T^2 > int64 at sf0.1) inside one fixed expression tree.

    Scale shape: one groupBy to the 5-type grain with map-side partial
    aggregation; everything after is constant-size arithmetic.
    """
    ev = tables(spark, sf_dir)["events"]
    v = ev.select(
        "event_type",
        (F.col("value").cast("decimal(10,2)") * 100).cast("bigint").alias("cents"),
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("cents").cast("bigint").alias("t_g"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("ss_g"),
    ).select(
        "n_g",
        "t_g",
        "ss_g",
        F.floor(
            F.col("t_g").cast("double") * F.col("t_g").cast("double") / F.col("n_g")
        )
        .cast("bigint")
        .alias("term_g"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("t_g").cast("bigint").alias("t"),
        F.sum("ss_g").cast("bigint").alias("ss"),
        F.sum("term_g").cast("bigint").alias("sum_terms"),
    )
    ssb = F.floor(
        F.col("sum_terms").cast("double")
        - F.col("t").cast("double") * F.col("t").cast("double") / F.col("n").cast("double")
    ).cast("bigint")
    ssw = (F.col("ss") - F.col("sum_terms")).cast("bigint")
    f_stat = (ssb.cast("double") / (F.col("k") - 1).cast("double")) / (
        ssw.cast("double") / (F.col("n") - F.col("k")).cast("double")
    )
    return tot.select(
        "k",
        "n",
        ssb.alias("ssb_floor"),
        ssw.alias("ssw_floor"),
        F.floor(F.lit(1000000.0) * f_stat).cast("bigint").alias("f_stat_q6"),
    )


# ---------------------------------------------------------------------------
# Classical additive seasonal decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------


@query(
    "q_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
               AS day_ix,
             CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)) AS BIGINT)
               AS x
      FROM events GROUP BY 1
    ),
    tr AS (  -- centered 7-day moving SUM; trend = sum7/7, full windows only
      SELECT day_ix, x,
             CASE WHEN COUNT(*) OVER wc = 7
                  THEN SUM(x) OVER wc ELSE NULL END AS sum7
      FROM daily
      WINDOW wc AS (ORDER BY day_ix ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    se AS (  -- weekday seasonal: mean of 7*detrended over full-trend days
      SELECT day_ix % 7 AS wd,
             CAST(SUM(7 * x - sum7) AS BIGINT) AS s_num,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM tr WHERE sum7 IS NOT NULL GROUP BY 1
    )
    SELECT t.day_ix, t.x AS x_cents,
           CAST(FLOOR(1000000.0 * (CAST(t.sum7 AS DOUBLE) / 7.0)) AS BIGINT)
             AS trend_q6,
           CAST(FLOOR(1000000.0 * (CAST(se.s_num AS DOUBLE)
                                   / CAST(7 * se.s_cnt AS DOUBLE))) AS BIGINT)
             AS seasonal_q6,
           CAST(FLOOR(1000000.0 * (CAST(t.x AS DOUBLE)
                                   - CAST(t.sum7 AS DOUBLE) / 7.0
                                   - CAST(se.s_num AS DOUBLE)
                                     / CAST(7 * se.s_cnt AS DOUBLE))) AS BIGINT)
             AS residual_q6
    FROM tr t JOIN se ON se.wd = t.day_ix % 7
    WHERE t.sum7 IS NOT NULL
    """,
    tags=("timeseries", "decomposition", "round8"),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily event value:
    trend = centered 7-day moving average (full windows only), weekly
    seasonal = per-weekday mean of the detrended series, residual =
    observed - trend - seasonal. Every intermediate stays an exact
    integer (the moving SUM, and 7*x - sum7 for the scaled detrended
    value); the three outputs are single fixed double expressions over
    those integers, floor-quantized. Upgrades
    q_seasonal_weekday_deviation from raw weekday means to the proper
    trend-removed decomposition (a trending series contaminates raw
    weekday means; detrending is what isolates the cycle).

    Scale shape: one groupBy to the day grain; the +-3-day window and
    the weekday aggregation both run on that SF-invariant grain.
    """
    ev = tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("day_ix")
    ).agg(
        F.sum((F.col("value").cast("decimal(10,2)") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    wc = Window.orderBy("day_ix").rowsBetween(-3, 3)
    tr = barrier(daily.select(
        "day_ix",
        "x",
        F.when(F.count(F.lit(1)).over(wc) == 7, F.sum("x").over(wc)).alias("sum7"),
    ), "reuse")  # feeds the weekday agg + final join
    full = tr.filter(F.col("sum7").isNotNull())
    se = full.groupBy((F.col("day_ix") % 7).alias("wd")).agg(
        F.sum(7 * F.col("x") - F.col("sum7")).cast("bigint").alias("s_num"),
        F.count(F.lit(1)).cast("bigint").alias("s_cnt"),
    )
    trend = F.col("sum7").cast("double") / F.lit(7.0)
    seasonal = F.col("s_num").cast("double") / (7 * F.col("s_cnt")).cast("double")
    return (
        full.join(F.broadcast(se), full["day_ix"] % 7 == se["wd"])
        .select(
            "day_ix",
            F.col("x").alias("x_cents"),
            F.floor(F.lit(1000000.0) * trend).cast("bigint").alias("trend_q6"),
            F.floor(F.lit(1000000.0) * seasonal).cast("bigint").alias("seasonal_q6"),
            F.floor(
                F.lit(1000000.0) * (F.col("x").cast("double") - trend - seasonal)
            )
            .cast("bigint")
            .alias("residual_q6"),
        )
    )


# ---------------------------------------------------------------------------
# Two-stage ANN retrieval: LSH bucket shortlist -> exact cosine re-rank
# ---------------------------------------------------------------------------

_RERANK_QUERIES = 8
_RERANK_TOPK = 3

_BUCKET_SQL = (
    "CAST("
    + " + ".join(
        "(CASE WHEN list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * (["
        + ",".join(str(c) for c in plane)
        + "])[i])) > 0 THEN "
        + str(2**p)
        + " ELSE 0 END)"
        for p, plane in enumerate(_PLANES)
    )
    + " AS BIGINT)"
)


@query(
    "q_ann_rerank_two_stage",
    oracle=f"""
    WITH {_QUANT_SQL},
    b AS (SELECT vec_id, label, qv, {_BUCKET_SQL} AS bucket FROM q8),
    qs AS (SELECT * FROM b WHERE vec_id < {_RERANK_QUERIES}),
    cand AS (  -- stage 1: multi-probe shortlist, Hamming <= 1 on buckets
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS n_label,
             q.qv AS q_qv, c.qv AS c_qv
      FROM qs q JOIN b c
        ON c.vec_id != q.vec_id
       AND bit_count(CAST(xor(q.bucket, c.bucket) AS BIGINT)) <= 1
    ),
    scored AS (  -- stage 2: exact integer dot + cosine on the shortlist
      SELECT query_id, neighbor_id, n_label,
             CAST(list_dot_product(q_qv, c_qv) AS BIGINT) AS dot,
             list_dot_product(q_qv, c_qv)
               / (sqrt(list_dot_product(q_qv, q_qv))
                  * sqrt(list_dot_product(c_qv, c_qv))) AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, n_label, dot, CAST(rank AS INT) AS rank,
           CAST(FLOOR(1000000.0 * cos_raw) AS BIGINT) AS cos_q6
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_RERANK_TOPK}
    """,
    tags=("similarity", "ann", "retrieval", "round8"),
)
def q_ann_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE ANN retrieval — the production serving recipe the
    catalog's pieces existed for but never composed: stage 1 shortlists
    candidates by coarse quantizer (the portable Rademacher LSH buckets
    of q_knn_lsh_buckets_portable, multi-probed at Hamming distance <= 1
    so near-boundary neighbors aren't lost to one flipped sign bit);
    stage 2 re-ranks ONLY the shortlist with the exact integer dot
    product / cosine and returns top-{_RERANK_TOPK}. Integer dots make
    the ranking engine-deterministic; the cosine is one fixed double
    expression over them.

    Scale shape: stage 1 is the ~256x candidate-reduction bucket join
    (queries broadcast; multi-probe multiplies candidates by <=9, not by
    corpus size); stage 2's exact work is |shortlist| * dim — the
    recall/latency dial every vector store exposes (nprobe). The corpus
    never shuffles.
    """
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    dots = []
    for p, plane in enumerate(_PLANES):
        arr = F.array(*[F.lit(c) for c in plane])
        dots.append(
            F.aggregate(
                F.zip_with(F.col("qv"), arr, lambda q, s: q.cast("bigint") * s),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias(f"d{p}")
        )
    d = e.select("vec_id", "label", "qv", *dots)
    bucket = None
    for p in range(len(_PLANES)):
        term = F.when(F.col(f"d{p}") > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    b = barrier(d.select(
        "vec_id", "label", "qv", bucket.cast("bigint").alias("bucket")
    ), "reuse")  # feeds query + corpus sides
    qs = b.filter(F.col("vec_id") < _RERANK_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = b.join(
        F.broadcast(qs),
        (F.col("vec_id") != F.col("query_id"))
        & (
            F.expr("bit_count(CAST(q_bucket ^ bucket AS BIGINT))") <= 1
        ),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("q_qv"), F.col("qv"), lambda a, c: a.cast("bigint") * c.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(col, col, lambda a, c: a.cast("bigint") * c.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        dot.alias("dot"),
        (dot.cast("double") / (norm(F.col("q_qv")) * norm(F.col("qv")))).alias("cos_raw"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= _RERANK_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "n_label",
            "dot",
            F.col("rank").cast("int").alias("rank"),
            F.floor(F.lit(1000000.0) * F.col("cos_raw")).cast("bigint").alias("cos_q6"),
        )
    )
