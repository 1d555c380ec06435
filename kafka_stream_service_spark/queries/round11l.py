"""Round-11 batch 12: the AMS second-moment sketch (portable-signed,
exactly certifiable), resource-allocation link prediction over the
near-dup pair graph (pair-snapshot consumer #7), and the privacy-audit
completions l-diversity and t-closeness next to q_k_anonymity_audit.

Reference parity note: the reference (StreamsApplication.java) has no
analytics surface; the sketch row extends the portable-sketch tier
(HLL/count-min/bloom/PQ), the link-prediction row the dedup-graph tier,
and the privacy rows the mandated PII/privacy tier — all with
exact-arithmetic driver oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import tables
from .dedup2 import _h_sql, portable_hash64
from .registry import query

# ---------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 sketch with median-of-means certification
# ---------------------------------------------------------------------------

_AMS_R = 16  # sign estimators; grouped 4x4 for median-of-means
_AMS_SEED = "1213"


@query(
    "q_ams_f2_portable",
    oracle=f"""
    WITH cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    f2 AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM cnt),
    signed AS (
      SELECT r.i AS r,
             CAST(SUM(CASE WHEN {_h_sql("'ams:' || CAST(r.i AS VARCHAR) || ':' || CAST(cnt.user_id AS VARCHAR)", _AMS_SEED)}
                           % 2 = 0 THEN cnt.c ELSE -cnt.c END) AS BIGINT) AS s_r
      FROM cnt CROSS JOIN (SELECT unnest(range(0, {_AMS_R})) AS i) r
      GROUP BY r.i
    ),
    grp AS (
      SELECT r // 4 AS g, CAST(SUM(s_r * s_r) AS BIGINT) AS sum_g
      FROM signed GROUP BY r // 4
    ),
    med AS (
      SELECT CAST(SUM(CASE WHEN rnk IN (2, 3) THEN sum_g ELSE 0 END) AS BIGINT)
               AS est_x8
      FROM (SELECT sum_g, ROW_NUMBER() OVER (ORDER BY sum_g, g) AS rnk FROM grp)
    )
    SELECT f.f2_exact, m.est_x8,
           CAST(FLOOR(1000000.0 * CAST(m.est_x8 AS DOUBLE)
                / NULLIF(8.0 * f.f2_exact, 0.0)) AS BIGINT) AS ratio_q6
    FROM f2 f CROSS JOIN med m
    """,
    tags=("sketch", "portable", "stats", "round11"),
)
def q_ams_f2_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996)
    over per-user event counts, certified against the exact F2 =
    sum_v c_v^2 — the one-pass mergeable estimator of self-join size /
    skew that a shuffle planner consults before picking a join
    strategy. Sixteen +/-1-signed linear sketches S_r = sum_v s_r(v)*c_v
    (signs from the portable md5 hash, so both engines draw the SAME
    sketch), squared, then median-of-means 4x4: the estimate is emitted
    x8 (group means are /4 and the median of four is the mean of the
    two middle values, so 8x the estimate is the exact integer
    sum of the two middle group totals).

    Exactness: every S_r is an exact integer (signs and counts are);
    squares, group totals, the rank-2/3 selection, and the exact F2 are
    all BIGINT; only the final certification ratio est/F2 is one
    quantized double division.

    Scale shape: ONE user rollup (map-side combinable), then the
    R-way sign expansion runs on the AGGREGATED user grain (R = 16
    constant multiplier), collapsing map-side to 16 partials; the
    grouping/median stages are 16- and 4-row frames. This is the
    linear-sketch pattern: at 100 TB the only data-scale stage is the
    first rollup.
    """
    ev = tables(spark, sf_dir)["events"]
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    f2 = cnt.agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_exact"))
    signed = (
        cnt.select(
            "user_id",
            "c",
            F.explode(F.sequence(F.lit(0), F.lit(_AMS_R - 1))).alias("r"),
        )
        .select(
            "r",
            F.when(
                portable_hash64(
                    F.concat(
                        F.lit("ams:"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    ),
                    int(_AMS_SEED),
                )
                % 2
                == 0,
                F.col("c"),
            )
            .otherwise(-F.col("c"))
            .alias("sc"),
        )
        .groupBy("r")
        .agg(F.sum("sc").cast("bigint").alias("s_r"))
    )
    grp = signed.groupBy(F.expr("r DIV 4").alias("g")).agg(
        F.sum(F.col("s_r") * F.col("s_r")).cast("bigint").alias("sum_g")
    )
    med = (
        grp.withColumn(
            "rnk", F.row_number().over(Window.orderBy("sum_g", "g"))
        )
        .agg(
            F.sum(F.when(F.col("rnk").isin(2, 3), F.col("sum_g")).otherwise(0))
            .cast("bigint")
            .alias("est_x8")
        )
    )
    return f2.crossJoin(F.broadcast(med)).select(
        "f2_exact",
        "est_x8",
        F.floor(
            F.lit(1000000.0)
            * F.col("est_x8").cast("double")
            / F.nullif(F.lit(8.0) * F.col("f2_exact"), F.lit(0.0))
        )
        .cast("bigint")
        .alias("ratio_q6"),
    )


# ---------------------------------------------------------------------------
# Resource-allocation link prediction over the near-dup pair graph
# ---------------------------------------------------------------------------

from .dedup2 import _PAIRS_CTE  # noqa: E402


@query(
    "q_ra_link_prediction",
    oracle=_PAIRS_CTE
    + """,
    adj AS (
      SELECT id_a AS u, id_b AS v FROM fpairs
      UNION ALL
      SELECT id_b, id_a FROM fpairs
    ),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
    tri AS (
      SELECT a1.u AS a, a2.v AS c, a1.v AS b
      FROM adj a1 JOIN adj a2 ON a1.v = a2.u AND a1.u < a2.v
    ),
    flagged AS (
      SELECT t.a, t.c, t.b,
             CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS is_edge
      FROM tri t
      LEFT JOIN fpairs e ON e.id_a = t.a AND e.id_b = t.c
    )
    SELECT n.a AS id_a, n.c AS id_b,
           CAST(MAX(n.is_edge) AS BIGINT) AS is_edge,
           CAST(COUNT(*) AS BIGINT) AS common_neighbors,
           CAST(SUM(1000000000 // d.d) AS BIGINT) AS ra_q9
    FROM flagged n JOIN deg d ON d.node = n.b
    GROUP BY n.a, n.c
    """,
    tags=("graph", "dedup", "index", "similarity", "llm-data", "round11"),
)
def q_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (Zhou-Lu-Zhang 2009) over
    the verified near-dup pair graph, reading the pair-index SNAPSHOT
    (consumer #7): every distance-2 pair (a, c) — two docs sharing a
    verified neighbor — scores RA = sum over common neighbors b of
    1/deg(b), flagged is_edge. The is_edge = 0 rows are the
    predictions proper: "pairs the band structure probably owes us an
    edge for" (a shared low-degree neighbor is strong evidence, a
    shared hub weak) — the recall-review queue. At fixture scale every
    dup family closes into a clique, so the open-wedge set is EMPTY
    (itself the audit's finding: no missed edges) and the is_edge = 1
    rows carry the certification. RA is chosen over Adamic-Adar
    deliberately: 1/deg quantizes to an exact per-term integer where
    1/log(deg) would hang the verdict on cross-engine libm.

    Exactness: each term is the exact integer floor(1e9/deg); the
    per-pair score is an order-free integer sum; common-neighbor
    counts are exact.

    Scale shape: the snapshot read is candidate-scale; the wedge join
    (adjacency self-joined on the shared endpoint) is the standard
    distributed triangle/wedge enumeration, bounded by sum-of-degrees
    squared over the DUPLICATE graph only (tiny by construction —
    near-dup components are pruned families, never the corpus); the
    anti-join against existing edges is a broadcast of the same small
    edge list.
    """
    from .dedup2 import PAIR_INDEX

    fpairs = PAIR_INDEX.read(spark, sf_dir).select("id_a", "id_b")
    adj = fpairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).union(fpairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    a1 = adj.select(F.col("u").alias("a"), F.col("v").alias("b"))
    a2 = adj.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = a1.join(a2, "b").filter(F.col("a") < F.col("c"))
    flagged = tri.join(
        F.broadcast(
            fpairs.select(
                F.col("id_a").alias("a"), F.col("id_b").alias("c")
            ).withColumn("edge_mark", F.lit(1))
        ),
        ["a", "c"],
        "left",
    ).withColumn("is_edge", F.coalesce("edge_mark", F.lit(0)))
    scored = (
        flagged.join(F.broadcast(deg.withColumnRenamed("node", "b")), "b")
        .groupBy(F.col("a").alias("id_a"), F.col("c").alias("id_b"))
        .agg(
            F.max("is_edge").cast("bigint").alias("is_edge"),
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(F.expr("1000000000 DIV d")).cast("bigint").alias("ra_q9"),
        )
    )
    return scored


# ---------------------------------------------------------------------------
# l-diversity audit over quasi-identifier classes
# ---------------------------------------------------------------------------

# Sensitive attribute: account-balance band. Cents are exact integers;
# the +100000 offset keeps the integer division non-negative (DuckDB //
# floors where Spark DIV truncates — they only agree above zero).
_BAND_SQL = "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 200000"
_L_MIN = 3


@query(
    "q_l_diversity",
    oracle=f"""
    WITH x AS (
      SELECT c_nationkey, c_mktsegment, {_BAND_SQL} AS band
      FROM customer
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(COUNT(DISTINCT band) AS BIGINT) AS l_distinct
      FROM x GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, n_c, l_distinct,
           CAST(CASE WHEN l_distinct >= {_L_MIN} THEN 1 ELSE 0 END AS BIGINT)
             AS is_l_diverse
    FROM cls
    """,
    tags=("privacy", "audit", "quality", "round11"),
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2006) of the
    customer table: within each quasi-identifier class (nation x market
    segment — the release grouping q_k_anonymity_audit already sizes),
    how many DISTINCT sensitive values (account-balance bands) appear?
    A k-anonymous class with one band still leaks the attribute; the
    l >= 3 verdict per class is the release gate.

    Exactness: bands are exact integer cent divisions (offset keeps
    the operands non-negative, where DuckDB's floor-division and
    Spark's truncating DIV agree); counts and the verdict are pure
    integers.

    Scale shape: one scan, one (nation x segment) rollup with a
    distinct-aggregate — bounded output grain (25 x 5), map-side
    partials for the count, standard distinct expansion for l.
    """
    c = tables(spark, sf_dir)["customer"]
    x = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) DIV 200000")
        .alias("band"),
    )
    cls = x.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.countDistinct("band").cast("bigint").alias("l_distinct"),
    )
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "n_c",
        "l_distinct",
        F.when(F.col("l_distinct") >= _L_MIN, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_l_diverse"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (ordered EMD between class and global distributions)
# ---------------------------------------------------------------------------


@query(
    "q_t_closeness",
    oracle=f"""
    WITH x AS (
      SELECT c_nationkey, c_mktsegment, {_BAND_SQL} AS band
      FROM customer
    ),
    bands AS (SELECT DISTINCT band FROM x),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bands FROM bands),
    cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_c
      FROM x GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
    cellc AS (
      SELECT c_nationkey, c_mktsegment, band, CAST(COUNT(*) AS BIGINT) AS cc
      FROM x GROUP BY 1, 2, 3
    ),
    cellg AS (
      SELECT band, CAST(COUNT(*) AS BIGINT) AS cg FROM x GROUP BY band
    ),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_c, b.band,
             COALESCE(cellc.cc, 0) AS cc, cellg.cg
      FROM cls CROSS JOIN bands b
      JOIN cellg ON cellg.band = b.band
      LEFT JOIN cellc ON cellc.c_nationkey = cls.c_nationkey
                     AND cellc.c_mktsegment = cls.c_mktsegment
                     AND cellc.band = b.band
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, n_c, band,
             SUM(cc) OVER (PARTITION BY c_nationkey, c_mktsegment
                           ORDER BY band
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumc,
             SUM(cg) OVER (PARTITION BY c_nationkey, c_mktsegment
                           ORDER BY band
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumg
      FROM grid
    ),
    terms AS (
      SELECT c_nationkey, c_mktsegment, n_c,
             CAST(SUM(ABS(cumc * t.n - cumg * n_c)) AS BIGINT) AS sum_terms
      FROM cum CROSS JOIN tot t
      GROUP BY 1, 2, 3
    )
    SELECT c.c_nationkey, c.c_mktsegment, c.n_c,
           CAST(FLOOR(1000000000.0 * CAST(c.sum_terms AS DOUBLE)
                / NULLIF(CAST(c.n_c AS DOUBLE) * t.n * (b.n_bands - 1), 0.0))
                AS BIGINT) AS t_close_q9
    FROM terms c CROSS JOIN tot t CROSS JOIN nb b
    """,
    tags=("privacy", "audit", "quality", "round11"),
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li-Li-Venkatasubramanian 2007) of the same
    release grouping: the ordered-attribute Earth Mover's Distance
    between each quasi-identifier class's balance-band distribution and
    the global one, EMD = sum_b |cumP(b) - cumQ(b)| / (B - 1) — the
    audit that catches classes l-diversity passes but whose sensitive
    distribution still gives the attacker a sharp posterior (e.g. a
    class with all three bands but 95% mass in the top one).

    Exactness: the full class x band grid (zero cells included — a
    flat class CDF against a moving global one still accumulates
    distance) carries exact cumulative counts; each term
    |cumc*N - cumg*n_c| is an exact BIGINT; only the final
    normalization is one quantized double.

    Scale shape: two rollups to class and band grain, a broadcast
    grid of bounded dimensions (125 classes x <= 6 bands), per-class
    windows over <= 6-row partitions, one quantized emission per class.
    """
    c = tables(spark, sf_dir)["customer"]
    x = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) DIV 200000")
        .alias("band"),
    )
    bands = x.select("band").distinct()
    nb = bands.agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"))
    cls = x.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c")
    )
    tot = x.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cellc = x.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    cellg = x.groupBy("band").agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
    grid = (
        cls.crossJoin(F.broadcast(bands))
        .join(F.broadcast(cellg), "band")
        .join(
            F.broadcast(cellc),
            ["c_nationkey", "c_mktsegment", "band"],
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_c",
            "band",
            F.coalesce("cc", F.lit(0)).alias("cc"),
            "cg",
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "n_c",
        "band",
        F.sum("cc").over(w).alias("cumc"),
        F.sum("cg").over(w).alias("cumg"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("c_nationkey", "c_mktsegment", "n_c")
        .agg(
            F.sum(
                F.abs(F.col("cumc") * F.col("n") - F.col("cumg") * F.col("n_c"))
            )
            .cast("bigint")
            .alias("sum_terms")
        )
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_c",
            F.floor(
                F.lit(1000000000.0)
                * F.col("sum_terms").cast("double")
                / F.nullif(
                    F.col("n_c").cast("double")
                    * F.col("n")
                    * (F.col("n_bands") - 1),
                    F.lit(0.0),
                )
            )
            .cast("bigint")
            .alias("t_close_q9"),
        )
    )
