"""Round-8 operator batch 1: survival analysis, changepoint detection,
recursive-CTE exponential smoothing, isotonic calibration, CUPED
experiment adjustment, and label-propagation community detection.

Each operator extends an existing family with a classic technique the
catalog lacked: Kaplan-Meier is the censored-data counterpart of
q_order_cycle_time's plain duration stats; CUSUM is the changepoint
sibling of q_rolling_anomaly; Holt's linear trend extends
q_ewma_smoothing with a trend component (and exercises WITH RECURSIVE
as a *numeric* recurrence, not just graph traversal); isotonic
regression (pool-adjacent-violators via the minimax identity) upgrades
q_calibration_bins from binned rates to a monotone fit; CUPED is the
standard variance-reduction estimator for the experimentation tier
next to q_decile_lift/q_target_encoding; label propagation is the
mode-based community detector complementing q_dedup_clusters
(min-label components) and q_modularity_by_source.

Exactness follows the repo's oracle-matching rules (registry.py
docstring): money through DECIMAL cents, ratios as single fixed
double-expression trees over exact integers, ln() floor-quantized at
1e6 per term BEFORE any summation, and integer keys for argmax
tie-breaking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .registry import query

# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (censored durations)
# ---------------------------------------------------------------------------


@query(
    "q_kaplan_meier",
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
             n_total
               - SUM(n_events + n_censored)
                   OVER (ORDER BY t_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               + (n_events + n_censored) AS n_risk
      FROM g CROSS JOIN tot
    ),
    lnq AS (
      SELECT t_days, n_risk, n_events, n_censored,
             CASE WHEN n_risk > n_events THEN
               CAST(FLOOR(1000000.0 * LN(CAST(n_risk - n_events AS DOUBLE)
                                         / CAST(n_risk AS DOUBLE))) AS BIGINT)
             ELSE NULL END AS ln_term_q6
      FROM curve
    )
    SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
           CAST(SUM(ln_term_q6)
                  OVER (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ln_surv_q6
    FROM lnq
    """,
    tags=("stats", "survival", "round8"),
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over order->ship durations with
    right-censoring: returned lineitems (l_returnflag = 'R') are treated
    as censored at their duration, everything else as an observed event.
    Per distinct duration t: the at-risk count n_t (items whose duration
    >= t), event count d_t, censored count, and the product-limit
    survival S(t) = prod_{u<=t} (1 - d_u/n_u) — reported as the
    cumulative log-survival with each ln(1 - d/n) floor-quantized at
    1e6 BEFORE the cumulative sum, so the running total is an order-free
    integer (the repo's standard ln-quantization recipe). Rows where the
    risk set dies out entirely (n = d) contribute NULL (survival 0, log
    undefined) and are skipped by the window sum on both engines.

    Scale shape: one join (orderkey-partitioned) + one groupBy on the
    duration grain collapses data-scale rows to ~130 duration values;
    the global ordered window runs on that aggregated grain only (same
    justification as q_lorenz_curve — never on raw rows). At 100 TB the
    duration domain is still days, so the curve stays tiny.
    """
    t = tables(spark, sf_dir)
    dur = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.datediff("l_shipdate", "o_orderdate").cast("int").alias("t_days"),
            (F.col("l_returnflag") != "R").cast("int").alias("ev"),
        )
    )
    g = dur.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("bigint").alias("n_censored"),
    )
    tot = dur.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    w = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    curve = g.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n_total")
        - F.sum(F.col("n_events") + F.col("n_censored")).over(w)
        + (F.col("n_events") + F.col("n_censored")),
    )
    ln_term = F.when(
        F.col("n_risk") > F.col("n_events"),
        F.floor(
            F.lit(1000000.0)
            * F.log(
                (F.col("n_risk") - F.col("n_events")).cast("double")
                / F.col("n_risk").cast("double")
            )
        ).cast("bigint"),
    )
    return (
        curve.withColumn("ln_term_q6", ln_term)
        .withColumn("ln_surv_q6", F.sum("ln_term_q6").over(w).cast("bigint"))
        .select("t_days", "n_risk", "n_events", "n_censored", "ln_surv_q6")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over daily revenue
# ---------------------------------------------------------------------------


@query(
    "q_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS day,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS r_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(r_cents) AS BIGINT) AS t_cents
      FROM daily
    ),
    c AS (
      SELECT day, r_cents,
             ROW_NUMBER() OVER (ORDER BY day) AS day_idx,
             SUM(r_cents) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prefix_cents,
             n_days, t_cents
      FROM daily CROSS JOIN tot
    ),
    cu AS (
      SELECT day, r_cents, CAST(day_idx AS BIGINT) AS day_idx,
             CAST(n_days * prefix_cents - day_idx * t_cents AS BIGINT) AS cusum_scaled
      FROM c
    ),
    mx AS (SELECT MAX(ABS(cusum_scaled)) AS max_abs FROM cu)
    SELECT day, r_cents, day_idx, cusum_scaled,
           CAST(CASE WHEN ABS(cusum_scaled) = max_abs THEN 1 ELSE 0 END AS INT)
             AS is_peak
    FROM cu CROSS JOIN mx
    """,
    tags=("timeseries", "changepoint", "round8"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistic over 1997's daily revenue: the
    cumulative sum of deviations from the period mean, C_d =
    sum_{u<=d}(r_u - mu). The day maximizing |C_d| is the single best
    mean-shift changepoint (Page's CUSUM / binary-segmentation pivot).
    Exactness: with mu = T/N rational, C_d*N = N*prefix_d - d_idx*T is
    computed entirely in integer cents — no float anywhere — so the
    curve and the peak flag hash exactly. Magnitudes: N<=366 and prefix
    <= total cents keep N*prefix far inside BIGINT even at 100 TB/year.

    Scale shape: one groupBy collapses to <=366 day rows before the
    ordered window (aggregated grain only); the totals ride in on a
    broadcast. The peak flag marks ALL argmax days (deterministic under
    ties rather than order-dependent).
    """
    li = tables(spark, sf_dir)["lineitem"]
    daily = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.sum((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("r_cents")
        )
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("r_cents").cast("bigint").alias("t_cents"),
    )
    w = Window.orderBy("day")
    c = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn("day_idx", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "prefix_cents", F.sum("r_cents").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    cu = c.select(
        "day",
        "r_cents",
        "day_idx",
        (F.col("n_days") * F.col("prefix_cents") - F.col("day_idx") * F.col("t_cents"))
        .cast("bigint")
        .alias("cusum_scaled"),
    )
    mx = cu.agg(F.max(F.abs(F.col("cusum_scaled"))).alias("max_abs"))
    return cu.crossJoin(F.broadcast(mx)).select(
        "day",
        "r_cents",
        "day_idx",
        "cusum_scaled",
        F.when(F.abs(F.col("cusum_scaled")) == F.col("max_abs"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing as a WITH RECURSIVE numeric recurrence
# ---------------------------------------------------------------------------

# The recurrence text is SHARED verbatim between Spark and DuckDB (both
# run the identical WITH RECURSIVE arm over a `holt_daily(day_ix, x)`
# relation), so every float operation has the same expression tree —
# alpha = beta = 0.5 and IEEE doubles make each step's result
# bit-identical. Only the daily-aggregate CTE differs per engine
# (datediff dialects).
# split into the recursive CTE and its quantized projection so the
# forecast-backtest query (round8g) can reuse the identical recursion
# and wrap the projection as its own CTE
_HOLT_CTE = """
    s AS (
      SELECT day_ix, x, x AS lvl, CAST(0.0 AS DOUBLE) AS trend
      FROM holt_daily WHERE day_ix = 0
      UNION ALL
      SELECT d.day_ix, d.x,
             0.5 * d.x + 0.5 * (s.lvl + s.trend) AS lvl,
             0.5 * ((0.5 * d.x + 0.5 * (s.lvl + s.trend)) - s.lvl)
               + 0.5 * s.trend AS trend
      FROM s JOIN holt_daily d ON d.day_ix = s.day_ix + 1
    )
"""
_HOLT_SELECT = """
    SELECT day_ix, CAST(x AS BIGINT) AS x_cents,
           CAST(FLOOR(1000000.0 * lvl) AS BIGINT) AS level_q6,
           CAST(FLOOR(1000000.0 * trend) AS BIGINT) AS trend_q6,
           CAST(FLOOR(1000000.0 * (lvl + trend)) AS BIGINT) AS forecast_next_q6
    FROM s
"""
_HOLT_RECURSION = _HOLT_CTE + _HOLT_SELECT

_HOLT_DAILY_DUCK = """
    SELECT CAST(date_diff('day', TIMESTAMP '2024-01-01',
                          date_trunc('day', ts)) AS INT) AS day_ix,
           CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)) AS DOUBLE) AS x
    FROM events GROUP BY 1
"""

def _holt_daily_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Holt day-grain series: one groupBy collapses data-scale events
    to (day_ix, x) where x is the day's exact integer cents as a double."""
    ev = tables(spark, sf_dir)["events"]
    return ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("day_ix")
    ).agg(
        F.sum((F.col("value").cast("decimal(10,2)") * 100).cast("bigint"))
        .cast("double")
        .alias("x")
    )


def _holt_scan_pdf(pdf):
    """Per-series sequential Holt scan, bit-identical to the shared
    WITH RECURSIVE text (_HOLT_CTE + _HOLT_SELECT): the anchor row is
    day_ix = 0 (lvl = x, trend = 0) and each step walks day_ix + 1 —
    a gap ends the curve, exactly like the recursion's equi-join.
    Every arithmetic expression below repeats the SQL expression tree
    verbatim (same operand order, same halvings, one FLOOR(1e6 * v)
    per output), and Python floats ARE IEEE binary64 with correctly
    rounded + - * /, so all state evolves bit-identically to the
    DuckDB oracle's recursion. Optimization r15: Spark's UnionLoop ran
    one join + exchange PER DAY (~30 micro-plans of pure per-iteration
    overhead at any SF); one Arrow-batched scan over the grouped day
    grain is the canonical distributed shape for sequential smoothing
    (partition by series, scan within). Interleaved A/B at sf0.1,
    3 alternations x 3 passes: q_holt_linear 4.1/6.9/6.6 s (HEAD leg
    medians) -> 0.92/0.83/0.81 s, q_holt_winters 4.1/6.1/5.4 ->
    0.82/0.86/0.82, q_forecast_backtest 3.1/3.4/4.3 -> 0.89/1.05/1.17."""
    import math

    import pandas as pd

    xs = {int(d): float(x) for d, x in zip(pdf["day_ix"], pdf["x"])}
    # non-null invariant of the day grain (ADVICE r15): x = SUM(cents)
    # over a day's events can only be NULL/NaN if every value that day is
    # NULL — the fixture forbids it, and the replaced SQL recursion would
    # have propagated NULL through the state columns instead of crashing;
    # fail with a defined message rather than math.floor(nan)'s ValueError
    bad = sorted(d for d, x in xs.items() if math.isnan(x))
    if bad:
        raise ValueError(
            f"holt day grain violated its non-null invariant: NaN daily "
            f"sum at day_ix={bad} (all-NULL events.value for those days)"
        )
    rows: list[tuple] = []
    if 0 in xs:
        x = xs[0]
        lvl, trend = x, 0.0
        rows.append(
            (
                0,
                int(x),
                math.floor(1000000.0 * lvl),
                math.floor(1000000.0 * trend),
                math.floor(1000000.0 * (lvl + trend)),
            )
        )
        ix = 1
        while ix in xs:
            x = xs[ix]
            new_lvl = 0.5 * x + 0.5 * (lvl + trend)
            trend = 0.5 * ((0.5 * x + 0.5 * (lvl + trend)) - lvl) + 0.5 * trend
            lvl = new_lvl
            rows.append(
                (
                    ix,
                    int(x),
                    math.floor(1000000.0 * lvl),
                    math.floor(1000000.0 * trend),
                    math.floor(1000000.0 * (lvl + trend)),
                )
            )
            ix += 1
    return pd.DataFrame(
        rows,
        columns=["day_ix", "x_cents", "level_q6", "trend_q6", "forecast_next_q6"],
    ).astype(
        {
            "day_ix": "int32",
            "x_cents": "int64",
            "level_q6": "int64",
            "trend_q6": "int64",
            "forecast_next_q6": "int64",
        }
    )


_HOLT_SCAN_SCHEMA = (
    "day_ix int, x_cents bigint, level_q6 bigint, trend_q6 bigint, "
    "forecast_next_q6 bigint"
)


def _holt_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized Holt levels (the _HOLT_SELECT projection) via one
    grouped Arrow scan over the day grain. Shared by the smoothing row
    and the forecast backtest."""
    daily = _holt_daily_frame(spark, sf_dir)
    return daily.groupBy(F.lit(1).alias("_series")).applyInPandas(
        _holt_scan_pdf, _HOLT_SCAN_SCHEMA
    )


@query(
    "q_holt_linear_smoothing",
    oracle=f"WITH RECURSIVE holt_daily AS ({_HOLT_DAILY_DUCK}), {_HOLT_RECURSION}",
    tags=("timeseries", "smoothing", "recursive", "round8"),
)
def q_holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing of daily event
    value, alpha = beta = 0.5, expressed as a WITH RECURSIVE numeric
    recurrence — the same recursion text runs on Spark 4 and DuckDB, so
    level/trend evolve through identical IEEE double expression trees
    (inputs are exact integer cents as doubles; halving is exact in
    binary) and the 1e6-floor outputs hash across engines. Extends
    q_ewma_smoothing (level only) with the trend component and the
    one-step-ahead forecast level+trend.

    Scale shape: the recurrence runs on the DAY grain (30 rows here,
    366/year) after one groupBy collapses data-scale events; sequential
    smoothing of a series is inherently a per-grain scan — at 100 TB
    the scan depth is unchanged, only the pre-aggregation widens.
    The scan walks consecutive days from day 0 (the fixture has no
    gaps; a gap would end the curve identically on both engines).

    Optimization r15 (guide §1.2 "the distributed algorithm"): the
    WITH RECURSIVE execution planned one join + exchange per day —
    pure per-iteration overhead for a 30-row series (4.1-6.9 s leg
    medians at sf0.1, vs 0.8-0.9 s after — the A/B numbers are in
    _holt_scan_pdf's docstring); the recursion is now evaluated as ONE grouped
    Arrow scan (_holt_scan_pdf) whose expression tree repeats the
    recursion text verbatim, so the oracle (still the WITH RECURSIVE
    form) stays bit-identical. WITH RECURSIVE operator coverage lives
    on in q_hops_recursive_cte.
    """
    return _holt_levels(spark, sf_dir)


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators via the minimax identity)
# ---------------------------------------------------------------------------

_ISO_BIN_W = 25000.0
_ISO_BINS = 20


@query(
    "q_isotonic_calibration",
    oracle=f"""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice / {_ISO_BIN_W}) AS INT), {_ISO_BINS - 1})
               AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS y_pos
      FROM b GROUP BY bin
    ),
    pref AS (
      SELECT bin, n, y_pos,
             SUM(n) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
             SUM(y_pos) OVER (ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
      FROM bins
    ),
    m AS (  -- m(i) = min over j >= i of the pooled mean of bins i..j
      SELECT a.bin AS i,
             MIN(CAST(j.cy - a.cy + a.y_pos AS DOUBLE)
                 / CAST(j.cn - a.cn + a.n AS DOUBLE)) AS m_i
      FROM pref a JOIN pref j ON j.bin >= a.bin
      GROUP BY a.bin
    )
    SELECT p.bin, p.n, p.y_pos,
           CAST(FLOOR(1000000.0 * (CAST(p.y_pos AS DOUBLE) / CAST(p.n AS DOUBLE)))
                AS BIGINT) AS rate_q6,
           CAST(FLOOR(1000000.0 * MAX(m.m_i)) AS BIGINT) AS iso_q6
    FROM pref p JOIN m ON m.i <= p.bin
    GROUP BY p.bin, p.n, p.y_pos
    """,
    tags=("mlops", "calibration", "round8"),
)
def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) of the
    order-finalization rate against 20 price bins, via the exact minimax
    identity iso(b) = max_{i<=b} min_{j>=i} mean(y over bins i..j) —
    a closed form equal to the PAV fit, needing no sequential pooling
    loop. The pooled means are single double divisions of exact integer
    prefix-sum differences (identical expression both engines); min/max
    aggregates are order-free, so iso_q6 hashes exactly and is monotone
    non-decreasing by construction (the isotonic guarantee).

    Scale shape: data-scale rows collapse to <=20 bin rows in one
    groupBy; the O(B^2) pair frame (<=210 rows) and both aggregations
    run on that bin grain. More calibration bins cost O(B^2) pairs —
    B=1000 is still only 5e5 rows. The ordered prefix window runs on the
    bin grain only.
    """
    o = tables(spark, sf_dir)["orders"]
    b = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / _ISO_BIN_W).cast("int"), F.lit(_ISO_BINS - 1)
        ).alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    bins = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("y_pos"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        "bin", "n", "y_pos", F.sum("n").over(w).alias("cn"), F.sum("y_pos").over(w).alias("cy")
    )
    a = pref.select(
        F.col("bin").alias("i"),
        F.col("n").alias("a_n"),
        F.col("y_pos").alias("a_y"),
        F.col("cn").alias("a_cn"),
        F.col("cy").alias("a_cy"),
    )
    j = pref.select(
        F.col("bin").alias("jbin"), F.col("cn").alias("j_cn"), F.col("cy").alias("j_cy")
    )
    m = (
        a.join(j, F.col("jbin") >= F.col("i"))
        .groupBy("i")
        .agg(
            F.min(
                (F.col("j_cy") - F.col("a_cy") + F.col("a_y")).cast("double")
                / (F.col("j_cn") - F.col("a_cn") + F.col("a_n")).cast("double")
            ).alias("m_i")
        )
    )
    return (
        pref.join(m, m["i"] <= pref["bin"])
        .groupBy("bin", "n", "y_pos")
        .agg(F.max("m_i").alias("iso"))
        .select(
            "bin",
            "n",
            "y_pos",
            F.floor(
                F.lit(1000000.0) * (F.col("y_pos").cast("double") / F.col("n").cast("double"))
            )
            .cast("bigint")
            .alias("rate_q6"),
            F.floor(F.lit(1000000.0) * F.col("iso")).cast("bigint").alias("iso_q6"),
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------------


@query(
    "q_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
             CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) <= 14
                  THEN CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
                  THEN CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    gmom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM per_user
    ),
    theta AS (
      SELECT n, sx,
             CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
               AS th
      FROM gmom
    ),
    arm AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a,
             CAST(SUM(x) AS BIGINT) AS sx_a, CAST(SUM(y) AS BIGINT) AS sy_a,
             CAST(SUM(x * x) AS BIGINT) AS sxx_a,
             CAST(SUM(y * y) AS BIGINT) AS syy_a,
             CAST(SUM(x * y) AS BIGINT) AS sxy_a
      FROM per_user GROUP BY arm
    )
    SELECT a.arm, a.n_a AS n_users,
           CAST(FLOOR(1000000.0 * th) AS BIGINT) AS theta_q6,
           CAST(FLOOR(1000000.0 * (CAST(a.sy_a AS DOUBLE) / CAST(a.n_a AS DOUBLE)))
                AS BIGINT) AS mean_y_q6,
           CAST(FLOOR(1000000.0 * (
             CAST(a.sy_a AS DOUBLE) / CAST(a.n_a AS DOUBLE)
             - th * (CAST(a.sx_a AS DOUBLE) / CAST(a.n_a AS DOUBLE)
                     - CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE))
           )) AS BIGINT) AS mean_y_adj_q6,
           CAST(FLOOR(1000000.0 * (
             CAST(a.n_a * a.syy_a - a.sy_a * a.sy_a AS DOUBLE)
             / CAST(a.n_a * a.n_a AS DOUBLE)
           )) AS BIGINT) AS var_y_q6,
           CAST(FLOOR(1000000.0 * (
             CAST(a.n_a * a.syy_a - a.sy_a * a.sy_a AS DOUBLE)
               / CAST(a.n_a * a.n_a AS DOUBLE)
             - 2.0 * th * (CAST(a.n_a * a.sxy_a - a.sx_a * a.sy_a AS DOUBLE)
                           / CAST(a.n_a * a.n_a AS DOUBLE))
             + th * th * (CAST(a.n_a * a.sxx_a - a.sx_a * a.sx_a AS DOUBLE)
                          / CAST(a.n_a * a.n_a AS DOUBLE))
           )) AS BIGINT) AS var_y_adj_q6
    FROM arm a CROSS JOIN theta t
    """,
    tags=("mlops", "experimentation", "round8"),
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. 2013) variance-reduced A/B readout: users split into two arms by
    user_id parity; Y = spend cents in days 15-29 (experiment window),
    X = spend cents in days 0-14 (pre-period covariate). theta =
    cov(X,Y)/var(X) is pooled; the adjusted mean per arm subtracts
    theta*(mean_a(X) - mean(X)), and the adjusted variance uses the
    algebraic expansion var(Y) - 2*theta*cov_a + theta^2*var_a(X) — so
    every statistic is a fixed double-expression tree over exact
    integer moment sums (never a per-row float accumulation, which
    would be summation-order-dependent). All population moments use the
    n-scaling identity n*Sxx - Sx^2 in BIGINT.

    Scale shape: one groupBy collapses events to per-user rows; the arm
    rollup and global moments are two cheap aggregations over users;
    theta rides in on a broadcast. Products stay < 1e18 even at 1000x
    fixture spend (documented magnitudes in the round-8 notes).
    """
    ev = tables(spark, sf_dir)["events"]
    cents = (F.col("value").cast("decimal(10,2)") * 100).cast("bigint")
    day_ix = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(day_ix <= 14, cents).otherwise(F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(day_ix >= 15, cents).otherwise(F.lit(0).cast("bigint")))
        .cast("bigint")
        .alias("y"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "x", "y"
    )
    glob = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    theta = glob.select(
        "n",
        "sx",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("th"),
    )
    arm = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("x").cast("bigint").alias("sx_a"),
        F.sum("y").cast("bigint").alias("sy_a"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx_a"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy_a"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy_a"),
    )
    q6 = lambda c: F.floor(F.lit(1000000.0) * c).cast("bigint")  # noqa: E731
    mean_y = F.col("sy_a").cast("double") / F.col("n_a").cast("double")
    mean_adj = mean_y - F.col("th") * (
        F.col("sx_a").cast("double") / F.col("n_a").cast("double")
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    var_y = (F.col("n_a") * F.col("syy_a") - F.col("sy_a") * F.col("sy_a")).cast(
        "double"
    ) / (F.col("n_a") * F.col("n_a")).cast("double")
    cov_a = (F.col("n_a") * F.col("sxy_a") - F.col("sx_a") * F.col("sy_a")).cast(
        "double"
    ) / (F.col("n_a") * F.col("n_a")).cast("double")
    var_x = (F.col("n_a") * F.col("sxx_a") - F.col("sx_a") * F.col("sx_a")).cast(
        "double"
    ) / (F.col("n_a") * F.col("n_a")).cast("double")
    var_adj = var_y - F.lit(2.0) * F.col("th") * cov_a + F.col("th") * F.col("th") * var_x
    return arm.crossJoin(F.broadcast(theta)).select(
        "arm",
        F.col("n_a").alias("n_users"),
        q6(F.col("th")).alias("theta_q6"),
        q6(mean_y).alias("mean_y_q6"),
        q6(mean_adj).alias("mean_y_adj_q6"),
        q6(var_y).alias("var_y_q6"),
        q6(var_adj).alias("var_y_adj_q6"),
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (mode-based, 3 synchronous rounds)
# ---------------------------------------------------------------------------

_LPA_BIG = 1_000_000  # label-id headroom for the (count, label) argmax key
_LPA_ROUNDS = 3


def _lpa_round_sql(r: int) -> str:
    prev = f"l{r - 1}"
    return f"""
    r{r}c AS (
      SELECT adj.a AS vtx, p.lbl, CAST(COUNT(*) AS BIGINT) AS c
      FROM adj JOIN {prev} p ON p.vtx = adj.b GROUP BY 1, 2
    ),
    k{r} AS (
      SELECT vtx, MAX(c * {_LPA_BIG} - lbl) AS key FROM r{r}c GROUP BY vtx
    ),
    l{r} AS (
      SELECT vtx,
             ((key + {_LPA_BIG - 1}) // {_LPA_BIG}) * {_LPA_BIG} - key AS lbl
      FROM k{r}
    )"""


@query(
    "q_label_propagation",
    oracle=(
        # reuse the rare-shingle candidate graph of graph_q (same edges
        # as q_kcore_decomposition / q_triangle_candidates)
        """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - 4 + 1, 0)),
                                   i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))) AS g
      FROM t
    ),
    rare AS (
      SELECT g FROM sh GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 4
    ),
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN rare USING (g) JOIN sh b USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    adj AS (
      SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e
    ),
    l0 AS (SELECT DISTINCT a AS vtx, a AS lbl FROM adj),"""
        + ",".join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))
        + f"""
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(vtx) AS BIGINT) AS min_member,
           CAST(MAX(vtx) AS BIGINT) AS max_member
    FROM l{_LPA_ROUNDS} GROUP BY lbl
    """
    ),
    tags=("graph", "community", "round8"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), 3 fixed rounds over the rare-shingle candidate graph
    (same edge list as q_kcore_decomposition): every vertex starts
    labeled by its own id; each round it adopts the MODE of its
    neighbors' labels, ties toward the smaller label. Mode+tie-break is
    encoded as one integer argmax key (count * 1e6 - label, labels <
    1e6 — at larger id domains widen the constant), so each round is
    two exact integer aggregations and the final community census
    hash-verifies against the unrolled-CTE oracle. Differs from
    q_dedup_clusters (min-label = connected components) by respecting
    edge multiplicity/density, and from q_modularity_by_source by
    *discovering* the partition instead of scoring a given one.

    Scale shape: per round, one groupBy on (vertex, label) + one on
    vertex, both hash-partitioned on vertex — the canonical distributed
    LPA step. Each round's frame is lineage-truncated (the AQE
    re-partitioning note in operators/ranks.py applies to any iterative
    fan-out). Fixed round count keeps the result a deterministic
    function of the input.
    """
    from .graph_q import _candidate_edges

    edges = _candidate_edges(spark, sf_dir)
    adj = barrier(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b"))),
        "reuse",
    )
    lab = adj.select(F.col("a").alias("vtx")).distinct().select(
        "vtx", F.col("vtx").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            adj.join(lab.select(F.col("vtx").alias("b"), "lbl"), "b")
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        key = cnt.groupBy("a").agg(
            F.max(F.col("c") * _LPA_BIG - F.col("lbl")).alias("key")
        )
        lab = barrier(key.select(
            F.col("a").alias("vtx"),
            (
                F.expr(f"((key + {_LPA_BIG - 1}) DIV {_LPA_BIG}) * {_LPA_BIG} - key")
            ).alias("lbl"),
        ), "iterate")
    return lab.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("vtx").cast("bigint").alias("min_member"),
        F.max("vtx").cast("bigint").alias("max_member"),
    )
