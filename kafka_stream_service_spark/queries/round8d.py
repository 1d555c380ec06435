"""Round-8 operator batch 4: model-monitoring and feature-engineering
classics — PSI distribution drift, expected calibration error, WoE/IV
binning, decision-tree batch scoring — plus per-vertex clustering
coefficient for the graph tier.

Family placement: PSI is the numeric-feature drift monitor next to
q_corpus_drift_kl (text KL); ECE evaluates the probability outputs of
q_logreg_score_text the way q_calibration_bins evaluates binned rates;
WoE/IV is the credit-scoring sibling of q_target_encoding; the literal
decision tree completes the batch-inference family (linear model ->
tree model); clustering coefficient composes the existing triangle and
degree machinery into the standard local-density metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .registry import query

# ---------------------------------------------------------------------------
# Population Stability Index (distribution drift between two periods)
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_W = 55000.0


@query(
    "q_psi_drift",
    oracle=f"""
    WITH base AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice / {_PSI_W}) AS INT), {_PSI_BINS - 1}) AS bin,
             CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END AS in_b,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS in_c
      FROM orders
    ),
    bins AS (
      SELECT bin, CAST(SUM(in_b) AS BIGINT) AS n_base, CAST(SUM(in_c) AS BIGINT) AS n_cur
      FROM base WHERE in_b = 1 OR in_c = 1 GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n_base) AS BIGINT) AS nb, CAST(SUM(n_cur) AS BIGINT) AS nc
      FROM bins
    )
    SELECT bin, n_base, n_cur,
           CAST(FLOOR(1000000.0 * (
             (CAST(n_base + 1 AS DOUBLE) / CAST(nb + {_PSI_BINS} AS DOUBLE)
              - CAST(n_cur + 1 AS DOUBLE) / CAST(nc + {_PSI_BINS} AS DOUBLE))
             * LN((CAST(n_base + 1 AS DOUBLE) / CAST(nb + {_PSI_BINS} AS DOUBLE))
                  / (CAST(n_cur + 1 AS DOUBLE) / CAST(nc + {_PSI_BINS} AS DOUBLE)))
           )) AS BIGINT) AS psi_term_q6
    FROM bins CROSS JOIN tot
    """,
    tags=("mlops", "drift", "monitoring", "round8"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two scoring periods (orders
    placed in 1996 = baseline vs 1997 = current), the standard
    model-monitoring drift alarm for NUMERIC features (the KL-based
    q_corpus_drift_kl covers token distributions): 10 fixed price bins,
    add-one smoothing so empty bins stay finite on both engines, and
    per-bin PSI terms (p - q)*ln(p/q) floor-quantized at 1e6 — the
    total PSI is an order-free integer sum of the emitted terms
    (PSI > 0.25 is the classic re-train trigger).

    Scale shape: one scan classifies both periods in a single pass
    (no self-join of two period scans), one groupBy to the 10-bin
    grain, totals broadcast back. Constant-size arithmetic after.
    """
    o = tables(spark, sf_dir)["orders"]
    base = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_W).cast("int"), F.lit(_PSI_BINS - 1)
        ).alias("bin"),
        F.when(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")),
            1,
        )
        .otherwise(0)
        .alias("in_b"),
        F.when(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")),
            1,
        )
        .otherwise(0)
        .alias("in_c"),
    )
    bins = (
        base.filter((F.col("in_b") == 1) | (F.col("in_c") == 1))
        .groupBy("bin")
        .agg(
            F.sum("in_b").cast("bigint").alias("n_base"),
            F.sum("in_c").cast("bigint").alias("n_cur"),
        )
    )
    tot = bins.agg(
        F.sum("n_base").cast("bigint").alias("nb"), F.sum("n_cur").cast("bigint").alias("nc")
    )
    p = (F.col("n_base") + 1).cast("double") / (F.col("nb") + _PSI_BINS).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (F.col("nc") + _PSI_BINS).cast("double")
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_base",
        "n_cur",
        F.floor(F.lit(1000000.0) * ((p - q) * F.log(p / q))).cast("bigint").alias("psi_term_q6"),
    )


# ---------------------------------------------------------------------------
# Expected Calibration Error of the logistic text-quality scorer
# ---------------------------------------------------------------------------

_ECE_BINS = 10


@query(
    "q_ece_calibration",
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
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    b AS (
      SELECT LEAST(CAST(score_q6 // 100000 AS INT), {_ECE_BINS - 1}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(label) AS BIGINT) AS n_pos,
             CAST(SUM(score_q6) AS BIGINT) AS sum_score_q6
      FROM s GROUP BY 1
    )
    SELECT bin, n_b, n_pos, sum_score_q6,
           CAST(FLOOR(1000000.0 * (
             (CAST(n_b AS DOUBLE) / CAST(t.n AS DOUBLE))
             * ABS(CAST(n_pos AS DOUBLE) / CAST(n_b AS DOUBLE)
                   - CAST(sum_score_q6 AS DOUBLE) / CAST(n_b AS DOUBLE) / 1000000.0)
           )) AS BIGINT) AS ece_term_q6
    FROM b CROSS JOIN tot t
    """,
    tags=("mlops", "calibration", "evaluation", "round8"),
)
def q_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the q_logreg_score_text classifier
    against the planted dup-marker label: scores are bucketed into 10
    confidence bins, each bin contributes (n_b/N)*|accuracy - mean
    confidence|, and the total ECE is the order-free integer sum of the
    emitted quantized terms. Mean confidence is computed from the SUM
    of per-doc quantized scores (an exact integer), never from a float
    mean — the same quantize-before-aggregate discipline as the ln
    recipes. Completes the calibration triad: q_calibration_bins
    (binned rates), q_isotonic_calibration (the monotone fix), this
    (the scalar quality number monitoring dashboards alarm on).

    Scale shape: one shuffle-free scoring pass (the logreg plan), one
    groupBy to 10 bins, total broadcast back.
    """
    d = tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", "n_chars", F.split(F.col("text"), " ").alias("toks"))
    f = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_uniq"),
        F.col("n_chars"),
        F.when(F.array_contains("toks", "dup"), 1).otherwise(0).alias("label"),
    )
    z = (
        F.lit(-1.5)
        + F.lit(0.8) * (F.col("n_tok").cast("double") / F.lit(100.0))
        + F.lit(2.0) * (F.col("n_uniq").cast("double") / F.col("n_tok").cast("double"))
        + F.lit(-0.3)
        * (
            (F.col("n_chars") - (F.col("n_tok") - 1)).cast("double")
            / F.col("n_tok").cast("double")
        )
        + F.lit(1.2) * F.col("label").cast("double")
    )
    s = f.select(
        "label",
        F.floor(F.lit(1000000.0) * (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))))
        .cast("bigint")
        .alias("score_q6"),
    )
    b = s.groupBy(
        F.least(
            F.expr("CAST(score_q6 DIV 100000 AS INT)"), F.lit(_ECE_BINS - 1)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
        F.sum("label").cast("bigint").alias("n_pos"),
        F.sum("score_q6").cast("bigint").alias("sum_score_q6"),
    )
    tot = b.agg(F.sum("n_b").cast("bigint").alias("n"))
    term = (F.col("n_b").cast("double") / F.col("n").cast("double")) * F.abs(
        F.col("n_pos").cast("double") / F.col("n_b").cast("double")
        - F.col("sum_score_q6").cast("double") / F.col("n_b").cast("double") / F.lit(1000000.0)
    )
    return b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_b",
        "n_pos",
        "sum_score_q6",
        F.floor(F.lit(1000000.0) * term).cast("bigint").alias("ece_term_q6"),
    )


# ---------------------------------------------------------------------------
# Weight-of-Evidence / Information-Value binning
# ---------------------------------------------------------------------------

_WOE_BINS = 10
_WOE_W = 55000.0


@query(
    "q_woe_binning",
    oracle=f"""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice / {_WOE_W}) AS INT), {_WOE_BINS - 1}) AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ),
    bins AS (
      SELECT bin, CAST(SUM(bad) AS BIGINT) AS n_bad,
             CAST(COUNT(*) - SUM(bad) AS BIGINT) AS n_good
      FROM b GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n_bad) AS BIGINT) AS tb, CAST(SUM(n_good) AS BIGINT) AS tg
      FROM bins
    )
    SELECT bin, n_good, n_bad,
           CAST(FLOOR(1000000.0 * LN(
             ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE))
             / ((CAST(n_good AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE))
           )) AS BIGINT) AS woe_q6,
           CAST(FLOOR(1000000.0 * (
             ((CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE)
              - (CAST(n_good AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE))
             * LN(((CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE))
                  / ((CAST(n_good AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE)))
           )) AS BIGINT) AS iv_term_q6
    FROM bins CROSS JOIN tot
    """,
    tags=("mlops", "feature-engineering", "round8"),
)
def q_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value binning of order price
    against finalization (the credit-scoring feature-engineering
    classic next to q_target_encoding): per bin, WoE = ln((bad_share)/
    (good_share)) with +0.5 Laplace smoothing, and the IV term
    (bad_share - good_share)*WoE whose order-free integer sum is the
    feature's predictive-power score (IV > 0.3 = strong). Every ratio
    is a fixed double expression over exact counts, ln floor-quantized
    per bin before any summation.

    Scale shape: one groupBy to the 10-bin grain; totals broadcast.
    """
    o = tables(spark, sf_dir)["orders"]
    b = o.select(
        F.least(
            F.floor(F.col("o_totalprice") / _WOE_W).cast("int"), F.lit(_WOE_BINS - 1)
        ).alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("bad"),
    )
    bins = b.groupBy("bin").agg(
        F.sum("bad").cast("bigint").alias("n_bad"),
        (F.count(F.lit(1)) - F.sum("bad")).cast("bigint").alias("n_good"),
    )
    tot = bins.agg(
        F.sum("n_bad").cast("bigint").alias("tb"), F.sum("n_good").cast("bigint").alias("tg")
    )
    bad_share = (F.col("n_bad").cast("double") + 0.5) / F.col("tb").cast("double")
    good_share = (F.col("n_good").cast("double") + 0.5) / F.col("tg").cast("double")
    woe = F.log(bad_share / good_share)
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_good",
        "n_bad",
        F.floor(F.lit(1000000.0) * woe).cast("bigint").alias("woe_q6"),
        F.floor(F.lit(1000000.0) * ((bad_share - good_share) * woe))
        .cast("bigint")
        .alias("iv_term_q6"),
    )


# ---------------------------------------------------------------------------
# Decision-tree batch scoring (literal depth-3 tree, fully integer)
# ---------------------------------------------------------------------------

# Literal leaf scores (micro-probabilities) for the 8 leaves of a
# depth-3 tree over (totalprice, priority, order year) — a "trained"
# GBDT stump ensemble's first tree, embedded the way a model-export
# (PMML/ONNX-to-SQL) compiler would.
_TREE_CASE = """
    CASE
      WHEN {p} < 100000 AND {pri} IN ('1-URGENT', '2-HIGH') AND {yr} < 1998 THEN 0
      WHEN {p} < 100000 AND {pri} IN ('1-URGENT', '2-HIGH') THEN 1
      WHEN {p} < 100000 AND {yr} < 1998 THEN 2
      WHEN {p} < 100000 THEN 3
      WHEN {pri} IN ('1-URGENT', '2-HIGH') AND {yr} < 1998 THEN 4
      WHEN {pri} IN ('1-URGENT', '2-HIGH') THEN 5
      WHEN {yr} < 1998 THEN 6
      ELSE 7
    END
"""
_LEAF_SCORES = (905000, 842000, 761000, 688000, 512000, 433000, 281000, 150000)


@query(
    "q_decision_tree_score",
    oracle=f"""
    WITH scored AS (
      SELECT {_TREE_CASE.format(p="o_totalprice", pri="o_orderpriority",
                                yr="EXTRACT(year FROM o_orderdate)")} AS leaf_id,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    )
    SELECT CAST(leaf_id AS INT) AS leaf_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CASE leaf_id {" ".join(f"WHEN {i} THEN {s}" for i, s in enumerate(_LEAF_SCORES))} END
                AS BIGINT) AS score_micro,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS actual_rate_q6
    FROM scored GROUP BY leaf_id
    """,
    tags=("mlops", "inference", "tree", "round8"),
)
def q_decision_tree_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree batch scoring: a literal depth-3 tree over
    (price, priority, order year) compiled to one nested CASE — exactly
    how PMML/ONNX-to-SQL model compilers ship tree ensembles into
    warehouses, and the tree-model sibling of q_logreg_score_text's
    linear scorer. Every quantity is an integer literal or count, so
    the per-leaf readout (population, model score, ACTUAL event rate in
    integer millionths via bigint division) is exact by construction —
    comparing score_micro to actual_rate_q6 per leaf is the model-audit
    the leaf table exists for.

    Scale shape: the CASE is whole-stage-codegen'd scalar logic (one
    shuffle-free pass), one groupBy to the 8-leaf grain. A full GBDT is
    a sum of such CASEs — same plan shape, deeper expression tree.
    """
    o = tables(spark, sf_dir)["orders"]
    leaf = F.expr(
        _TREE_CASE.format(
            p="o_totalprice", pri="o_orderpriority", yr="EXTRACT(year FROM o_orderdate)"
        )
    )
    scored = o.select(
        leaf.cast("int").alias("leaf_id"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    score_case = "CASE leaf_id {} END".format(
        " ".join(f"WHEN {i} THEN {s}" for i, s in enumerate(_LEAF_SCORES))
    )
    return scored.groupBy("leaf_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    ).select(
        "leaf_id",
        "n",
        F.expr(score_case).cast("bigint").alias("score_micro"),
        F.expr("n_pos * 1000000 DIV n").cast("bigint").alias("actual_rate_q6"),
    )


# ---------------------------------------------------------------------------
# Per-vertex clustering coefficient (triangles / wedge pairs)
# ---------------------------------------------------------------------------


@query(
    "q_clustering_coefficient",
    oracle="""
    WITH t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - 4 + 1, 0)),
                                   i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))) AS g
      FROM t0
    ),
    rare AS (
      SELECT g FROM sh GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 4
    ),
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN rare USING (g) JOIN sh b USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tv AS (
      SELECT vtx, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS vtx FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY vtx
    ),
    deg AS (
      SELECT vtx, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS vtx FROM e UNION ALL SELECT v FROM e
      ) GROUP BY vtx
    )
    SELECT deg.vtx AS doc_id, deg.d AS degree,
           COALESCE(tv.n_tri, 0) AS n_triangles,
           CAST(2000000 * COALESCE(tv.n_tri, 0) // (deg.d * (deg.d - 1)) AS BIGINT)
             AS coeff_q6
    FROM deg LEFT JOIN tv ON tv.vtx = deg.vtx
    WHERE deg.d >= 2
    """,
    tags=("graph", "triangles", "round8"),
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient over the rare-shingle
    candidate graph: c(v) = 2*T(v) / (d(v)*(d(v)-1)) — closed wedges
    over possible wedges, the standard local-density metric composing
    the catalog's oriented-triangle enumeration (each triangle found
    once via the u<v<w orientation, then credited to all three corners)
    with the degree census. Output is an exact integer millionths ratio
    (2e6*T // d(d-1), positive operands so // and DIV agree).

    Scale shape: the oriented triangle join is the skew-bounded plan
    q_triangle_oriented documents (each edge joins only higher-id
    endpoints); the corner credit is one explode + groupBy on vertex
    ids; degrees one more. All hash-partitioned on vertex.
    """
    from .graph_q import _candidate_edges

    edges = _candidate_edges(spark, sf_dir)
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = barrier(
        e1.join(e2, "b")
        .join(e3, ["a", "c"], "left_semi")
        .select("a", "b", "c"),
        "reuse",  # feeds the 3-way corner explode
    )
    tv = (
        tri.select(F.col("a").alias("vtx"))
        .unionAll(tri.select(F.col("b").alias("vtx")))
        .unionAll(tri.select(F.col("c").alias("vtx")))
        .groupBy("vtx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        edges.select(F.col("u").alias("vtx"))
        .unionAll(edges.select(F.col("v").alias("vtx")))
        .groupBy("vtx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tv, "vtx", "left")
        .select(
            F.col("vtx").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0).cast("bigint")).alias("n_triangles"),
            F.expr("2000000 * COALESCE(n_tri, 0) DIV (d * (d - 1))")
            .cast("bigint")
            .alias("coeff_q6"),
        )
    )
