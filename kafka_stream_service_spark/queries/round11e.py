"""Round-11 batch 5: k-filter agreement (Cochran's Q), Johnson-
Lindenstrauss random-projection distortion audit, and the
Calinski-Harabasz cluster-validity index — the remaining exact-rational
companions to this round's eval tier.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .registry import query

# ---------------------------------------------------------------------------
# Cochran's Q over THREE quality filters (extends the McNemar pair)
# ---------------------------------------------------------------------------

from .round11c import _FILTER_A_SQL, _FILTER_B_SQL  # noqa: E402

_FILTER_C_SQL = (
    "(len(list_intersect(list_distinct(string_split(text, ' ')),"
    " ['the', 'a', 'of', 'and', 'to'])) >= 2)"
)


@query(
    "q_cochran_q_filters",
    oracle=f"""
    WITH verdicts AS (
      SELECT doc_id,
             CASE WHEN {_FILTER_A_SQL} THEN 1 ELSE 0 END AS a,
             CASE WHEN {_FILTER_B_SQL} THEN 1 ELSE 0 END AS b,
             CASE WHEN {_FILTER_C_SQL} THEN 1 ELSE 0 END AS c
      FROM documents
    ),
    rows_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS g_a,
             CAST(SUM(b) AS BIGINT) AS g_b,
             CAST(SUM(c) AS BIGINT) AS g_c,
             CAST(SUM(a + b + c) AS BIGINT) AS sum_l,
             CAST(SUM((a + b + c) * (a + b + c)) AS BIGINT) AS sum_l2
      FROM verdicts
    )
    SELECT n, g_a, g_b, g_c, sum_l, sum_l2,
           CAST(CASE WHEN 3 * sum_l - sum_l2 > 0 THEN
                  2 * (3 * (g_a * g_a + g_b * g_b + g_c * g_c)
                       - sum_l * sum_l) * 1000000
                  // (3 * sum_l - sum_l2)
                ELSE 0 END AS BIGINT) AS q_q6
    FROM rows_
    """,
    tags=("stats", "agreement", "quality", "llm-data", "round11"),
)
def q_cochran_q_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over THREE document-quality filters (word-count
    window, lexical diversity, stopword presence) — the k-treatment
    generalization of McNemar: do the k binary filters pass documents
    at the same rate, accounting for per-document correlation? Q =
    (k-1) * [k * sum G_j^2 - (sum G_j)^2] / [k * sum L_i - sum L_i^2]
    with G_j the per-filter totals and L_i each doc's pass count.

    Exactness: every term is an exact integer from one scan (L_i and
    L_i^2 accumulate in the same rollup), and Q is a single integer
    floor division — the degenerate all-agree denominator (0) maps to
    Q = 0 identically on both engines.

    Scale shape: one scan, one global rollup — map-side combinable;
    nothing leaves aggregate grain.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to")])
    verdicts = d.select(
        ((F.size(toks) >= 20) & (F.size(toks) <= 90)).cast("int").alias("a"),
        (2 * F.size(F.array_distinct(toks)) >= F.size(toks)).cast("int").alias("b"),
        (F.size(F.array_intersect(F.array_distinct(toks), stop)) >= 2)
        .cast("int")
        .alias("c"),
    )
    l_i = F.col("a") + F.col("b") + F.col("c")
    rows = verdicts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("g_a"),
        F.sum("b").cast("bigint").alias("g_b"),
        F.sum("c").cast("bigint").alias("g_c"),
        F.sum(l_i).cast("bigint").alias("sum_l"),
        F.sum(l_i * l_i).cast("bigint").alias("sum_l2"),
    )
    return rows.select(
        "n",
        "g_a",
        "g_b",
        "g_c",
        "sum_l",
        "sum_l2",
        F.when(
            3 * F.col("sum_l") - F.col("sum_l2") > 0,
            F.expr(
                "2 * (3 * (g_a * g_a + g_b * g_b + g_c * g_c)"
                " - sum_l * sum_l) * 1000000 DIV (3 * sum_l - sum_l2)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("q_q6"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit
# ---------------------------------------------------------------------------

_JL_IN_DIM = 64
_JL_OUT_DIM = 16
# Deterministic +/-1 projection matrix, computed in PYTHON from md5 so
# both engines consume identical literals (no cross-engine randomness).
_JL_SIGNS = [
    [
        1 if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
        for i in range(_JL_IN_DIM)
    ]
    for j in range(_JL_OUT_DIM)
]


def _jl_signs_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in _JL_SIGNS
    )
    return f"[{rows}]"


@query(
    "q_random_projection_jl",
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
    signs AS (SELECT {_jl_signs_sql()} AS m),
    proj AS (
      SELECT vec_id, label,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS norm2,
             CAST(list_sum(list_transform(range(1, {_JL_OUT_DIM} + 1),
                   j -> CAST(list_dot_product(qv, m[j]) AS BIGINT)
                        * CAST(list_dot_product(qv, m[j]) AS BIGINT)))
                  AS BIGINT) AS proj_norm2
      FROM q8 CROSS JOIN signs
    ),
    scored AS (
      SELECT label, norm2, proj_norm2,
             CAST(FLOOR(1000000.0 * CAST(proj_norm2 AS DOUBLE)
                  / ({_JL_OUT_DIM}.0 * norm2)) AS BIGINT) AS distortion_q6
      FROM proj WHERE norm2 > 0
    )
    SELECT CAST(label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(distortion_q6) AS BIGINT) AS sum_distortion_q6,
           CAST(MIN(distortion_q6) AS BIGINT) AS min_distortion_q6,
           CAST(MAX(distortion_q6) AS BIGINT) AS max_distortion_q6,
           CAST(SUM(distortion_q6) // COUNT(*) AS BIGINT) AS avg_distortion_q6
    FROM scored GROUP BY label
    """,
    tags=("similarity", "embedding", "projection", "llm-data", "round11"),
)
def q_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection distortion audit: project
    every int8 vector from {_JL_IN_DIM} to {_JL_OUT_DIM} dims with a
    deterministic +/-1 sign matrix (the Achlioptas 2003 database-
    friendly construction) and measure per-label how well projected
    norms preserve scale — E[||y||^2] = m * ||x||^2, so distortion =
    ||y||^2 / (m * ||x||^2) should concentrate near 1. The audit a team
    runs before swapping full-width embeddings for a cheap projection
    in the dedup/ANN tier.

    Exactness: the sign matrix is PYTHON-computed integer literals
    embedded in both plans; projections and norms are exact integers
    (|y_j| <= 127 * {_JL_IN_DIM}); the distortion is one floor-quantized
    double of exact integers, summed at label grain after quantization.

    Scale shape: one scan through an Arrow-batched exact int64 matmul
    (rows x 64 @ 64 x {_JL_OUT_DIM} per batch — the vectorized form of
    {_JL_OUT_DIM} per-row dots), one label-grain rollup. No shuffle
    beyond the rollup.
    """
    import numpy as np
    import pyarrow as pa

    from .corpus_ops import _quantized

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    sign_mat = None  # built lazily inside the workers

    def project(batches):
        # One exact int64 matmul per Arrow batch: 16 interpreted
        # higher-order folds per row measured ~1.2 s for 2000 rows; the
        # vectorized projection is the deliberate drop-to-Arrow case
        # (the shingle_frame / blocked-matmul precedent). |y_j| <= 127 *
        # 64 and norms <= 127^2 * 64, so everything is int64-exact and
        # the quantized distortion is the same IEEE double expression
        # the oracle states.
        m = np.array(_JL_SIGNS, dtype=np.int64).T  # in_dim x out_dim
        for batch in batches:
            pdf = batch.to_pandas()
            qv = np.array([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
            if len(qv) == 0:
                continue
            norm2 = (qv * qv).sum(axis=1)
            y = qv @ m
            proj2 = (y * y).sum(axis=1)
            keep = norm2 > 0
            dist = np.floor(
                1000000.0 * proj2[keep].astype(np.float64)
                / (float(_JL_OUT_DIM) * norm2[keep].astype(np.float64))
            ).astype(np.int64)
            yield pa.RecordBatch.from_pydict(
                {
                    "label": pa.array(
                        pdf["label"].to_numpy()[keep], type=pa.int32()
                    ),
                    "distortion_q6": pa.array(dist, type=pa.int64()),
                }
            )

    scored = e.select("label", "qv").mapInArrow(
        project, schema="label int, distortion_q6 long"
    )
    return scored.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("distortion_q6").cast("bigint").alias("sum_distortion_q6"),
        F.min("distortion_q6").cast("bigint").alias("min_distortion_q6"),
        F.max("distortion_q6").cast("bigint").alias("max_distortion_q6"),
        F.expr("CAST(SUM(distortion_q6) DIV COUNT(*) AS BIGINT)").alias(
            "avg_distortion_q6"
        ),
    )


# ---------------------------------------------------------------------------
# Calinski-Harabasz cluster-validity index over the k-means assignment
# ---------------------------------------------------------------------------

from .clustering import _ASSIGN_SQL, K, _assignments  # noqa: E402
from .corpus_ops import _QUANT_SQL, _quantized  # noqa: E402


@query(
    "q_calinski_harabasz",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL},
    m AS (
      SELECT s.vec_id, s.centroid_id, q.qv,
             CAST(list_dot_product(q.qv, q.qv) AS BIGINT) AS nrm
      FROM assign s JOIN q8 q USING (vec_id)
    ),
    spos AS (
      SELECT centroid_id, u.i AS pos,
             CAST(SUM(CAST(qv[CAST(u.i AS INT)] AS BIGINT)) AS BIGINT) AS s
      FROM m, unnest(range(1, len(qv) + 1)) AS u(i)
      GROUP BY 1, 2
    ),
    cstat AS (
      SELECT c.centroid_id, c.n_c,
             CAST(FLOOR(1000000.0 * CAST(v.s2 AS DOUBLE) / c.n_c) AS BIGINT)
               AS t_c_q6
      FROM (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_c
            FROM m GROUP BY 1) c
      JOIN (SELECT centroid_id, CAST(SUM(s * s) AS BIGINT) AS s2
            FROM spos GROUP BY 1) v USING (centroid_id)
    ),
    gstat AS (
      SELECT CAST(SUM(nrm) AS BIGINT) AS tot2, CAST(COUNT(*) AS BIGINT) AS n
      FROM m
    ),
    gsum AS (
      SELECT CAST(SUM(s2) AS BIGINT) AS gs2 FROM (
        SELECT pos, CAST(SUM(s) AS BIGINT) * CAST(SUM(s) AS BIGINT) AS s2
        FROM spos GROUP BY pos
      )
    ),
    agg AS (
      SELECT g.n, g.tot2,
             CAST(SUM(c.t_c_q6) AS BIGINT) AS sum_t_q6,
             CAST(FLOOR(1000000.0 * CAST(u.gs2 AS DOUBLE) / g.n) AS BIGINT)
               AS t_glob_q6
      FROM cstat c CROSS JOIN gstat g CROSS JOIN gsum u
      GROUP BY g.n, g.tot2, u.gs2
    )
    SELECT c.centroid_id, c.n_c, c.t_c_q6, a.n,
           CAST(a.sum_t_q6 - a.t_glob_q6 AS BIGINT) AS b_q6,
           CAST(a.tot2 * 1000000 - a.sum_t_q6 AS BIGINT) AS w_q6,
           CAST(FLOOR(1000000.0
                * (CAST(a.sum_t_q6 - a.t_glob_q6 AS DOUBLE) / ({K} - 1))
                / (CAST(a.tot2 * 1000000 - a.sum_t_q6 AS DOUBLE)
                   / (a.n - {K}))) AS BIGINT) AS ch_q6
    FROM cstat c CROSS JOIN agg a
    """,
    tags=("clustering", "validity", "similarity", "round11"),
)
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz cluster-validity index for the certified K-means
    assignment — the between/within dispersion ratio CH =
    (B/(k-1)) / (W/(n-k)) that complements q_silhouette_simplified:
    silhouette judges per-point placement, CH judges the PARTITION (the
    number a pipeline reads when sweeping k). Uses the sum-vector
    identities W = sum||x||^2 - sum_c ||S_c||^2/n_c and B =
    sum_c ||S_c||^2/n_c - ||S||^2/n, so no mean vector (and no float
    centroid) ever materializes.

    Exactness: all norms and sum-vectors are exact integers; the two
    rational terms ||S_c||^2/n_c and ||S||^2/n floor-quantize per
    cluster (single double ops of exact ints), making B and W exact
    integer differences at q6; CH is one quantized double expression.

    Scale shape: assignment is the broadcast-centroid plan; sum-vectors
    are dims-grain rollups (the power-iteration treatment); everything
    after is K-row grain with 1-row scalar attachments.
    """
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    assign = _assignments(spark, sf_dir).select("vec_id", "centroid_id")
    nrm = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("qv"), lambda a, b: a.cast("bigint") * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    m = barrier(
        assign.join(e.select("vec_id", "qv"), "vec_id")
        .select("vec_id", "centroid_id", "qv", nrm.alias("nrm")),
        "reuse",
    )
    pts = m.select("centroid_id", F.posexplode("qv").alias("pos", "val")).select(
        "centroid_id", "pos", F.col("val").cast("bigint").alias("val")
    )
    spos = pts.groupBy("centroid_id", "pos").agg(
        F.sum("val").cast("bigint").alias("s")
    )
    cstat = (
        m.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
        .join(
            spos.groupBy("centroid_id").agg(
                F.sum(F.col("s") * F.col("s")).cast("bigint").alias("s2")
            ),
            "centroid_id",
        )
        .select(
            "centroid_id",
            "n_c",
            F.floor(F.lit(1000000.0) * F.col("s2").cast("double") / F.col("n_c"))
            .cast("bigint")
            .alias("t_c_q6"),
        )
    )
    gstat = m.agg(
        F.sum("nrm").cast("bigint").alias("tot2"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    gsum = (
        spos.groupBy("pos")
        .agg(F.sum("s").cast("bigint").alias("gs"))
        .agg(F.sum(F.col("gs") * F.col("gs")).cast("bigint").alias("gs2"))
    )
    agg = (
        cstat.agg(F.sum("t_c_q6").cast("bigint").alias("sum_t_q6"))
        .crossJoin(F.broadcast(gstat))
        .crossJoin(F.broadcast(gsum))
        .select(
            "n",
            "tot2",
            "sum_t_q6",
            F.floor(F.lit(1000000.0) * F.col("gs2").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("t_glob_q6"),
        )
    )
    return cstat.crossJoin(F.broadcast(agg)).select(
        "centroid_id",
        "n_c",
        "t_c_q6",
        "n",
        (F.col("sum_t_q6") - F.col("t_glob_q6")).cast("bigint").alias("b_q6"),
        (F.col("tot2") * 1000000 - F.col("sum_t_q6")).cast("bigint").alias("w_q6"),
        F.floor(
            F.lit(1000000.0)
            * ((F.col("sum_t_q6") - F.col("t_glob_q6")).cast("double") / F.lit(float(K - 1)))
            / F.nullif(
                (F.col("tot2") * 1000000 - F.col("sum_t_q6")).cast("double")
                / (F.col("n") - K),
                F.lit(0.0),
            )
        )
        .cast("bigint")
        .alias("ch_q6"),
    )
