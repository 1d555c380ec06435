"""Round-7 operator batch 9: deterministic Poisson bootstrap, sequence
trigram mining, degree distribution.

- q_bootstrap_ci brings resampling-based uncertainty to the exact-hash
  gate: Poisson(1) bootstrap weights are derived from the portable md5
  hash through integer inverse-CDF thresholds, so all 32 replicate
  sums are reproducible integers in both engines — the classic
  "bootstrap at scale" trick (one pass, weights instead of resampling;
  Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
  Google 2012).
- q_event_trigram_patterns extends q_markov_transitions (order-1) to
  order-2 sequential patterns.
- q_degree_distribution profiles the near-dup candidate graph's
  degree histogram in log2 bins — the skew diagnostic that decides
  when degree-orientation (q_triangle_oriented) is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranks import cpu_fanout
from ..plans.barrier import barrier
from ..tables import tables
from .graph_q import _EDGES_CTE, _candidate_edges
from .registry import query

# Poisson(1) inverse-CDF thresholds scaled to 1e6, as integers: a
# uniform u in [0, 1e6) maps to the weight w with cum P(X < w) <= u.
# floor(1e6 * cumsum(e^-1 / k!)) for k = 0..5; u beyond the last
# threshold gets weight 6 (P ~ 6e-5, negligible truncation, identical
# in both engines by construction).
_POIS_T = (367879, 735758, 919698, 981011, 996340, 999405)
_B = 32  # bootstrap replicates


def _pois_weight_case(u: str) -> str:
    """SQL CASE mapping the integer uniform to the Poisson weight."""
    clauses = " ".join(
        f"WHEN {u} < {t} THEN {w}" for w, t in enumerate(_POIS_T)
    )
    return f"CASE {clauses} ELSE 6 END"


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, {_B})) AS b),
    weighted AS (
      SELECT r.b,
             {_pois_weight_case(
                 "CAST(('0x' || substr(md5(CAST(r.b AS VARCHAR) || ':' || "
                 "CAST(o.o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000"
             )} AS w,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o CROSS JOIN reps r
    )
    SELECT CAST(b AS BIGINT) AS b,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * cents) AS BIGINT) AS rep_sum_cents
    FROM weighted GROUP BY b
    """,
    tags=("stats", "bootstrap", "round7"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap of total order revenue: 32 replicate
    sums whose Poisson(1) weights come from the portable 60-bit md5
    hash pushed through integer inverse-CDF thresholds — deterministic,
    engine-portable, RNG-free. The replicate spread IS the sampling
    distribution of the total; quantiles of these 32 integers give the
    CI downstream. This is how uncertainty is estimated over data too
    large to resample: weight, don't copy (Chamandy et al. 2012).

    Scale shape: one scan fanned x32 by a literal explode (weights are
    computed per (row, replicate), no shuffle until the bounded 32-group
    aggregate, which partial-aggregates map-side)."""
    o = tables(spark, sf_dir)["orders"]
    reps = F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b")
    # the fixture arrives as one file -> one partition; spread BEFORE the
    # x32 fan-out + per-(row,replicate) md5 or the whole hash cost lands
    # on a single task (measured 10 s -> ~1 s at sf0.1)
    fanned = cpu_fanout(
        o.select(
            F.col("o_orderkey"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    ).select("o_orderkey", "cents", reps)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"), F.lit(":"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    w: Column = F.lit(6)
    for wt, t in reversed(list(enumerate(_POIS_T))):
        w = F.when(u < t, wt).otherwise(w)
    return (
        fanned.withColumn("w", w)
        .groupBy(F.col("b").cast("bigint").alias("b"))
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("rep_sum_cents"),
        )
    )


@query(
    "q_event_trigram_patterns",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3 LIMIT 20
    """,
    tags=("sequence", "pattern-mining", "round7"),
)
def q_event_trigram_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-2 sequential pattern mining: the top-20 most frequent
    3-step event-type paths per-user sequences produce — the direct
    extension of q_markov_transitions' order-1 transition matrix
    (funnels like view->click->purchase surface here without being
    pre-declared). Ties at the cut break on the pattern itself, so the
    limit is engine-deterministic.

    Scale shape: LEAD windows partition by user (parallel); the
    trigram groupBy is bounded by |event_types|^3; TakeOrdered cut."""
    ev = tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(20)
    )


@query(
    "q_degree_distribution",
    oracle=_EDGES_CTE
    + """,
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY node
    )
    SELECT CAST(FLOOR(log2(degree)) AS INT) AS deg_bin,
           CAST(MIN(degree) AS BIGINT) AS min_degree,
           CAST(MAX(degree) AS BIGINT) AS max_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(degree) AS BIGINT) AS sum_degree
    FROM deg GROUP BY 1
    """,
    tags=("graph", "profile", "round7"),
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree distribution of the near-dup candidate graph
    — the skew diagnostic behind every graph-operator planning choice
    here: a heavy tail in the top bins is exactly when
    degree-orientation (q_triangle_oriented) and salting
    (q_salted_skew_join) pay for themselves. log2 of a positive
    integer floors identically in both engines (exact at powers of
    two, monotone between).

    Scale shape: degree is one groupBy over edge endpoints; the
    histogram is a second bounded groupBy (O(log max_degree) rows)."""
    edges = barrier(_candidate_edges(spark, sf_dir), "reuse")
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return (
        deg.groupBy(F.floor(F.log2("degree")).cast("int").alias("deg_bin"))
        .agg(
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("degree").cast("bigint").alias("sum_degree"),
        )
    )
