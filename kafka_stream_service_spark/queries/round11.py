"""Round-11 queries: the stored-index pattern lifted to embedding space.

VERDICT r10 #6: compose the persisted-artifact shape (build once per
corpus snapshot, probes read) with SemDeDup — new vectors assign to the
STORED centroids and edge-score only against their cluster's STORED
members, so a semantic-dedup refresh costs O(delta x cluster occupancy)
instead of a full recompute. The oracle derives the FULL edge set and
filters to delta-crossing rows, so the driver's hash verdict proves
stored-index-probe == full-recompute on exactly the rows a refresh
appends to the duplicate graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from .clustering import _ASSIGN_SQL, K, _assignments
from .corpus_ops import _QUANT_SQL, _quantized
from .registry import query
from .round10 import _SEM_TAU2_BP
from .stored import StoredIndex

# ---------------------------------------------------------------------------
# Stored semantic index: (vec_id, centroid_id, qv, nrm) — the assignment
# table SemDeDup's pair stage reads (queries/stored.py).
# ---------------------------------------------------------------------------


def _sem_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's int8 quantization, its nearest stored centroid,
    and its integer norm: the cluster-member table an incremental
    SemDeDup probe joins against."""
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    assign = _assignments(spark, sf_dir).select("vec_id", "centroid_id")
    nrm = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("qv"), lambda a, b: a.cast("bigint") * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return assign.join(e.select("vec_id", "qv"), "vec_id").select(
        "vec_id", "centroid_id", "qv", nrm.alias("nrm")
    )


# The revision token changes whenever the quantization or assignment
# derivation does. Sorted by centroid_id so the probe's per-cluster
# reads hit tight zone maps.
SEM_INDEX = StoredIndex(
    tag="sem_index",
    rev=f"r1k{K}t{_SEM_TAU2_BP}",
    source="embeddings",
    derive=lambda spark, sf_dir: (_sem_members(spark, sf_dir), ("centroid_id", "vec_id")),
)


# ---------------------------------------------------------------------------
# SemDeDup cross-snapshot delta: new vectors probe the stored index
# ---------------------------------------------------------------------------

_SEM_DELTA_MOD = 10
_SEM_DELTA_REM = 7  # vec_id % 10 == 7 -> the "newly arrived" slice (~10%)


@query(
    "q_semdedup_delta_edges",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL},
    m AS (
      SELECT s.vec_id, s.centroid_id, q.qv,
             CAST(list_dot_product(q.qv, q.qv) AS BIGINT) AS nrm
      FROM assign s JOIN q8 q USING (vec_id)
    ),
    edges AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.centroid_id,
             CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot,
             a.nrm AS nrm_a, b.nrm AS nrm_b
      FROM m a JOIN m b ON b.centroid_id = a.centroid_id AND b.vec_id > a.vec_id
      WHERE CAST(list_dot_product(a.qv, b.qv) AS BIGINT) > 0
        AND 10000 * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
                  * CAST(list_dot_product(a.qv, b.qv) AS BIGINT)
            >= {_SEM_TAU2_BP} * a.nrm * b.nrm
    )
    SELECT id_a, id_b, CAST(centroid_id AS INT) AS centroid_id, dot,
           CAST(FLOOR(1000000.0 * (CAST(dot AS DOUBLE)
                / sqrt(CAST(nrm_a AS DOUBLE) * CAST(nrm_b AS DOUBLE))))
                AS BIGINT) AS cos_q6,
           CAST((CASE WHEN id_a % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM} THEN 1 ELSE 0 END)
              + (CASE WHEN id_b % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM} THEN 1 ELSE 0 END)
              AS INT) AS n_delta_endpoints
    FROM edges
    WHERE id_a % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM}
       OR id_b % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM}
    """,
    tags=("similarity", "dedup", "semdedup", "incremental", "llm-data", "round11"),
)
def q_semdedup_delta_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup refresh, production shape (VERDICT r10 #6):
    the ~10% "newly arrived" vector slice (vec_id % {_SEM_DELTA_MOD} ==
    {_SEM_DELTA_REM}) is quantized fresh — linear in the delta — and
    assigned to the STORED centroids; edge scoring then runs each new
    vector against ONLY its cluster's stored members (one exact int64
    delta-rows x member-matrix matmul per cluster block, the audited
    q_semdedup_prune treatment), emitting the duplicate-graph edges with
    at least one delta endpoint — exactly the rows a semantic-dedup
    refresh appends. The base corpus is never re-quantized or
    re-assigned: its side of every dot comes from the sem_index parquet.
    The oracle derives the FULL edge set and filters, so the hash
    verdict proves stored-index-probe == full-recompute.

    Exactness: quantization of the delta slice reproduces the stored
    values bit-for-bit (same derivation); dots and norms are integers
    end to end; the pair cosine is one floor-quantized pure-double
    expression of exact integers < 2^53.

    Scale shape: probe cost is O(delta x cluster occupancy) — SemDeDup
    at production scale picks k proportional to n precisely so cluster
    populations stay bounded — plus a broadcast of the K stored
    centroids for delta assignment. Self-healing: a cold run builds the
    index artifact once, like the pair-snapshot consumers.
    """
    import numpy as np
    import pandas as pd

    is_delta = (F.col("vec_id") % _SEM_DELTA_MOD) == _SEM_DELTA_REM
    stored = SEM_INDEX.read(spark, sf_dir)

    # Delta side: quantize the new slice fresh, assign to STORED
    # centroids (the K index rows with vec_id < K, broadcast).
    dq = _quantized(
        tables(spark, sf_dir)["embeddings"].filter(is_delta)
    ).select("vec_id", "qv")
    cent = stored.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("cqv"),
            lambda a, b: (a - b).cast("bigint") * (a - b).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    keyed = dq.crossJoin(F.broadcast(cent)).select(
        "vec_id", "qv", (diff2 * K + F.col("cid")).alias("key")
    )
    assigned = (
        keyed.groupBy("vec_id")
        .agg(F.min("key").alias("key"), F.first("qv").alias("qv"))
        .select(
            "vec_id",
            (F.col("key") % K).cast("int").alias("centroid_id"),
            "qv",
        )
    )

    # Per-cluster block: delta rows x ALL stored members (base members
    # come from parquet; delta members re-enter as the fresh rows so
    # delta-delta edges are found too — dedup'd canonically below).
    members = stored.filter(~is_delta).select(
        "centroid_id", "vec_id", "qv", F.lit(1).alias("is_base")
    )
    probes = assigned.select(
        "centroid_id", "vec_id", "qv", F.lit(0).alias("is_base")
    )

    def edge_block(pdf: pd.DataFrame) -> pd.DataFrame:
        new = pdf[pdf["is_base"] == 0]
        if new.empty or len(pdf) < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "dot": pd.Series(dtype="int64"),
                    "nrm_a": pd.Series(dtype="int64"),
                    "nrm_b": pd.Series(dtype="int64"),
                }
            )
        all_ids = pdf["vec_id"].to_numpy()
        mat = np.array([np.asarray(v, dtype=np.int64) for v in pdf["qv"]])
        nrm = (mat * mat).sum(axis=1)
        didx = np.flatnonzero((pdf["is_base"] == 0).to_numpy())
        dots = mat[didx] @ mat.T  # delta rows x all members, exact int64
        di, aj = np.nonzero(dots)  # candidates must have dot != 0 anyway
        d = dots[di, aj]
        gi = didx[di]  # global row of the delta endpoint
        keep = (
            (gi != aj)
            & (d > 0)
            & (10000 * d * d >= _SEM_TAU2_BP * nrm[gi] * nrm[aj])
        )
        a_ids, b_ids = all_ids[gi[keep]], all_ids[aj[keep]]
        swap = a_ids > b_ids
        return pd.DataFrame(
            {
                "id_a": np.where(swap, b_ids, a_ids),
                "id_b": np.where(swap, a_ids, b_ids),
                "dot": d[keep],
                "nrm_a": np.where(swap, nrm[aj[keep]], nrm[gi[keep]]),
                "nrm_b": np.where(swap, nrm[gi[keep]], nrm[aj[keep]]),
            }
        )

    edges = (
        members.unionByName(probes)
        .groupBy("centroid_id")
        .applyInPandas(
            edge_block,
            schema="id_a long, id_b long, dot long, nrm_a long, nrm_b long",
        )
    )
    # delta-delta edges surface once per endpoint's probe row — collapse
    # to the canonical pair. centroid_id re-attaches from the stored
    # index at edge grain (both endpoints share it by construction).
    cent_of = stored.select(F.col("vec_id").alias("id_a"), "centroid_id")
    return (
        edges.dropDuplicates(["id_a", "id_b"])
        .join(cent_of, "id_a")
        .select(
            "id_a",
            "id_b",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            "dot",
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("dot").cast("double")
                    / F.sqrt(F.col("nrm_a").cast("double") * F.col("nrm_b").cast("double"))
                )
            )
            .cast("bigint")
            .alias("cos_q6"),
            (
                ((F.col("id_a") % _SEM_DELTA_MOD) == _SEM_DELTA_REM).cast("int")
                + ((F.col("id_b") % _SEM_DELTA_MOD) == _SEM_DELTA_REM).cast("int")
            ).alias("n_delta_endpoints"),
        )
    )


# ---------------------------------------------------------------------------
# ANN serving over the stored semantic index (the triad's third leg:
# build -> incremental refresh -> serve)
# ---------------------------------------------------------------------------

_IVF_NPROBE = 3
_IVF_TOPK = 5
# 8 "query" vectors drawn from the delta residue (vec_id % 10 == 7,
# vec_id < 80) — in production these are vectors NOT in the index yet.
_IVF_QMAX = 80


@query(
    "q_knn_ivf_stored",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL},
    qset AS (
      SELECT vec_id AS query_id, qv,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS qn
      FROM q8
      WHERE vec_id % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM} AND vec_id < {_IVF_QMAX}
    ),
    qd AS (
      SELECT s.query_id, c.cid,
             CAST(list_sum(list_transform(range(1, len(s.qv) + 1),
                   i -> CAST(s.qv[i] - c.cqv[i] AS BIGINT)
                        * CAST(s.qv[i] - c.cqv[i] AS BIGINT))) AS BIGINT) AS dist2
      FROM qset s CROSS JOIN cent c
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT query_id, cid,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dist2 * {K} + cid) AS probe_rank
        FROM qd
      ) WHERE probe_rank <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             CAST(list_dot_product(qs.qv, m.qv) AS BIGINT) AS dot,
             qs.qn, CAST(list_dot_product(m.qv, m.qv) AS BIGINT) AS nn
      FROM probes p
      JOIN assign a ON a.centroid_id = p.cid
      JOIN q8 m ON m.vec_id = a.vec_id
      JOIN qset qs ON qs.query_id = p.query_id
      WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, dot,
           CAST(FLOOR(1000000.0 * (CAST(dot AS DOUBLE)
                / sqrt(CAST(qn AS DOUBLE) * CAST(nn AS DOUBLE)))) AS BIGINT)
             AS cos_q6,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dot DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_TOPK}
    """,
    tags=("similarity", "ivf", "ann", "index", "serving", "llm-data", "round11"),
)
def q_knn_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF SERVING over the STORED semantic index — the triad's third
    leg (build: SEM_INDEX; refresh: q_semdedup_delta_edges; serve:
    this). Eight incoming query vectors (the delta residue, vec_id %
    {_SEM_DELTA_MOD} == {_SEM_DELTA_REM} below {_IVF_QMAX}) are
    quantized fresh, probe their {_IVF_NPROBE} nearest stored centroids
    (integer L2, key-encoded ties — the certified assignment contract),
    and rank ONLY the probed cells' stored members by exact integer dot
    — the corpus side of every dot comes from the index parquet, sorted
    by centroid so the probe's member fetch is zone-map pruned.

    Exactness: quantization reproduces stored values bit-for-bit; dots,
    norms, distances are integers; the reported cosine is one
    floor-quantized pure-double expression of exact integers.

    Scale shape: the serving path touches O(n_probe x cell occupancy)
    index rows per query — never the corpus — plus one broadcast of the
    K centroid rows and of the tiny query set. This is the IVF search
    memo: at 100 TB the index is the same parquet layout partitioned by
    centroid, and a query batch is a broadcast-probe + clustered read.
    """
    from pyspark.sql import Window as W

    stored = SEM_INDEX.read(spark, sf_dir)
    cent = stored.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    qset = (
        _quantized(
            tables(spark, sf_dir)["embeddings"].filter(
                ((F.col("vec_id") % _SEM_DELTA_MOD) == _SEM_DELTA_REM)
                & (F.col("vec_id") < _IVF_QMAX)
            )
        )
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"))
        .withColumn(
            "qn",
            F.aggregate(
                F.zip_with(
                    F.col("q_qv"),
                    F.col("q_qv"),
                    lambda a, b: a.cast("bigint") * b.cast("bigint"),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("q_qv"),
            F.col("cqv"),
            lambda a, b: (a - b).cast("bigint") * (a - b).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qd = qset.crossJoin(F.broadcast(cent)).select(
        "query_id", (diff2 * K + F.col("cid")).alias("key")
    )
    wp = W.partitionBy("query_id").orderBy("key")
    probes = (
        qd.withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= _IVF_NPROBE)
        .select("query_id", (F.col("key") % K).cast("int").alias("cid"))
    )
    members = stored.select(
        F.col("centroid_id").alias("cid"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("m_qv"),
        F.col("nrm").alias("nn"),
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("q_qv"), F.col("m_qv"), lambda a, b: a.cast("bigint") * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        members.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(qset), "query_id")
        .select("query_id", "neighbor_id", idot.alias("dot"), "qn", "nn")
    )
    wr = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "dot",
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("dot").cast("double")
                    / F.sqrt(F.col("qn").cast("double") * F.col("nn").cast("double"))
                )
            )
            .cast("bigint")
            .alias("cos_q6"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval-eval family: RRF fusion + MRR/recall@k
# ---------------------------------------------------------------------------

_RRF_K = 60  # the standard RRF constant (Cormack et al. 2009)
_FUSE_TOPK = 5


@query(
    "q_rrf_fusion",
    oracle=f"""
    WITH {_QUANT_SQL},
    qset AS (
      SELECT vec_id AS query_id, qv,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS qn
      FROM q8
      WHERE vec_id % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM} AND vec_id < {_IVF_QMAX}
    ),
    scored AS (
      SELECT s.query_id, m.vec_id AS neighbor_id,
             CAST(list_dot_product(s.qv, m.qv) AS BIGINT) AS dot,
             CAST(list_dot_product(m.qv, m.qv) AS BIGINT) AS nn
      FROM qset s JOIN q8 m ON m.vec_id != s.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS r_dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY nn - 2 * dot, neighbor_id) AS r_l2
      FROM scored
    ),
    fused AS (
      SELECT query_id, neighbor_id, dot,
             CAST(r_dot AS INT) AS r_dot, CAST(r_l2 AS INT) AS r_l2,
             CAST(1000000 // ({_RRF_K} + r_dot)
                + 1000000 // ({_RRF_K} + r_l2) AS BIGINT) AS rrf_q6
      FROM ranked
    )
    SELECT query_id, neighbor_id, dot, r_dot, r_l2, rrf_q6,
           CAST(fr AS INT) AS fused_rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_q6 DESC, neighbor_id) AS fr
      FROM fused
    ) WHERE fr <= {_FUSE_TOPK}
    """,
    tags=("similarity", "retrieval", "fusion", "eval", "llm-data", "round11"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two retrievers
    over the same candidate pool: the inner-product ranking and the
    L2-distance ranking genuinely disagree whenever vector norms vary
    (dot rewards long vectors; L2 penalizes them), and RRF is the
    standard zero-training way to combine them: score = sum over
    rankers of 1/(k + rank), k = {_RRF_K}. Per query: both rank lists,
    the fused score, and the fused top-{_FUSE_TOPK}.

    Exactness: dots/norms are exact integers; per-query ranks are
    window row_numbers with deterministic ties (neighbor_id); the RRF
    score is quantized by INTEGER floor division (1e6 // (k + r)), so
    fusion is integer end to end — no float comparison anywhere. The
    L2 ranking uses nn - 2*dot (qn is constant per query), an exact
    integer monotone in the true distance.

    Scale shape: brute-force scoring of an 8-query batch (the eval
    baseline, like q_knn_cosine_bruteforce) — one broadcast of the tiny
    query set, one corpus scan, two per-query window ranks on the
    scored frame. The ANN serving path stays q_knn_ivf_stored.
    """
    from pyspark.sql import Window as W

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    qset = (
        e.filter(
            ((F.col("vec_id") % _SEM_DELTA_MOD) == _SEM_DELTA_REM)
            & (F.col("vec_id") < _IVF_QMAX)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"))
    )
    idot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, b: a.cast("bigint") * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("m_qv"))
        .crossJoin(F.broadcast(qset))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            idot(F.col("q_qv"), F.col("m_qv")).alias("dot"),
            idot(F.col("m_qv"), F.col("m_qv")).alias("nn"),
        )
    )
    wd = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    wl = W.partitionBy("query_id").orderBy(
        (F.col("nn") - 2 * F.col("dot")).asc(), "neighbor_id"
    )
    fused = scored.select(
        "query_id",
        "neighbor_id",
        "dot",
        F.row_number().over(wd).cast("int").alias("r_dot"),
        F.row_number().over(wl).cast("int").alias("r_l2"),
    ).withColumn(
        "rrf_q6",
        (
            F.expr(f"1000000 DIV ({_RRF_K} + r_dot)")
            + F.expr(f"1000000 DIV ({_RRF_K} + r_l2)")
        ).cast("bigint"),
    )
    wf = W.partitionBy("query_id").orderBy(F.col("rrf_q6").desc(), "neighbor_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= _FUSE_TOPK)
        .select(
            "query_id", "neighbor_id", "dot", "r_dot", "r_l2", "rrf_q6", "fused_rank"
        )
    )


_EVAL_AT_K = 10


@query(
    "q_mrr_recall_eval",
    oracle=f"""
    WITH {_QUANT_SQL},
    qset AS (
      SELECT vec_id AS query_id, label AS q_label, qv,
             CAST(list_dot_product(qv, qv) AS BIGINT) AS qn
      FROM q8
      WHERE vec_id % {_SEM_DELTA_MOD} = {_SEM_DELTA_REM} AND vec_id < {_IVF_QMAX}
    ),
    scored AS (
      SELECT s.query_id, s.q_label, m.vec_id AS neighbor_id,
             CASE WHEN m.label = s.q_label THEN 1 ELSE 0 END AS rel,
             CAST(FLOOR(1000000.0 * (CAST(list_dot_product(s.qv, m.qv) AS BIGINT)
                  / sqrt(CAST(s.qn AS DOUBLE)
                         * CAST(list_dot_product(m.qv, m.qv) AS BIGINT))))
                  AS BIGINT) AS cos_q6
      FROM qset s JOIN q8 m ON m.vec_id != s.query_id
    ),
    ranked AS (
      SELECT query_id, q_label, neighbor_id, rel, cos_q6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_q6 DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, CAST(q_label AS INT) AS label,
           CAST(SUM(rel) AS BIGINT) AS n_rel,
           CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT) AS first_rel_rank,
           CAST(1000000 // MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT) AS rr_q6,
           CAST(SUM(CASE WHEN rnk <= {_EVAL_AT_K} THEN rel ELSE 0 END) AS BIGINT)
             AS hits_at_k,
           CAST(SUM(CASE WHEN rnk <= {_EVAL_AT_K} THEN rel ELSE 0 END) * 1000000
                // SUM(rel) AS BIGINT) AS recall_at_k_q6
    FROM ranked
    GROUP BY query_id, q_label
    """,
    tags=("similarity", "retrieval", "eval", "mrr", "recall", "llm-data", "round11"),
)
def q_mrr_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and recall@{_EVAL_AT_K} for the exact cosine retriever with
    same-label relevance — the two standard retrieval-eval numbers next
    to q_ndcg_ranking_eval's graded metric: reciprocal rank of the
    FIRST relevant hit (how fast a user sees something right) and the
    fraction of all relevant items surfaced in the top {_EVAL_AT_K}.
    Certifying an ANN index means comparing its MRR/recall against this
    exact retriever's.

    Exactness: relevance is an integer label match; the ranking key is
    the floor-quantized cosine (exact integer dots/norms into one
    IEEE-identical double expression) with neighbor_id ties; RR and
    recall are integer floor divisions.

    Scale shape: one broadcast of the 8-query batch, one corpus scan,
    one per-query window rank, then a query-grain rollup — the
    brute-force eval baseline by construction.
    """
    from pyspark.sql import Window as W

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    qset = e.filter(
        ((F.col("vec_id") % _SEM_DELTA_MOD) == _SEM_DELTA_REM)
        & (F.col("vec_id") < _IVF_QMAX)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("qv").alias("q_qv"),
    )
    idot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, b: a.cast("bigint") * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("m_label"),
            F.col("qv").alias("m_qv"),
        )
        .crossJoin(F.broadcast(qset))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            (F.col("m_label") == F.col("q_label")).cast("int").alias("rel"),
            F.floor(
                F.lit(1000000.0)
                * (
                    idot(F.col("q_qv"), F.col("m_qv")).cast("double")
                    / F.sqrt(
                        idot(F.col("q_qv"), F.col("q_qv")).cast("double")
                        * idot(F.col("m_qv"), F.col("m_qv")).cast("double")
                    )
                )
            )
            .cast("bigint")
            .alias("cos_q6"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cos_q6").desc(), "neighbor_id")
    ranked = scored.withColumn("rnk", F.row_number().over(wr))
    return ranked.groupBy("query_id", "q_label").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).cast("bigint").alias(
            "first_rel_rank"
        ),
        F.expr("CAST(1000000 DIV MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)").alias(
            "rr_q6"
        ),
        F.sum(F.when(F.col("rnk") <= _EVAL_AT_K, F.col("rel")).otherwise(0))
        .cast("bigint")
        .alias("hits_at_k"),
        F.expr(
            f"CAST(SUM(CASE WHEN rnk <= {_EVAL_AT_K} THEN rel ELSE 0 END) * 1000000"
            " DIV NULLIF(SUM(rel), 0) AS BIGINT)"
        ).alias("recall_at_k_q6"),
    ).select(
        "query_id",
        F.col("q_label").cast("int").alias("label"),
        "n_rel",
        "first_rel_rank",
        "rr_q6",
        "hits_at_k",
        "recall_at_k_q6",
    )


# ---------------------------------------------------------------------------
# ROUGE-2 over the pair-index snapshot (consumer #5)
# ---------------------------------------------------------------------------

from .dedup2 import _PAIRS_CTE  # noqa: E402  (shared pair-derivation oracle)


@query(
    "q_rouge2_pair_scores",
    oracle=_PAIRS_CTE
    + """,
    ends AS (
      SELECT DISTINCT doc_id FROM (
        SELECT id_a AS doc_id FROM fpairs UNION ALL SELECT id_b FROM fpairs
      )
    ),
    toked AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS toks
      FROM documents d JOIN ends USING (doc_id)
    ),
    bg AS (
      SELECT doc_id, u.g AS g
      FROM toked, unnest(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> toks[i] || ' ' || toks[i + 1])) AS u(g)
    ),
    cnt AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    ov AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS overlap
      FROM fpairs p
      JOIN cnt ca ON ca.doc_id = p.id_a
      JOIN cnt cb ON cb.doc_id = p.id_b AND cb.g = ca.g
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b,
           COALESCE(o.overlap, 0) AS overlap, ta.n AS n_a, tb.n AS n_b,
           CAST(COALESCE(o.overlap, 0) * 1000000 // ta.n AS BIGINT) AS precision_q6,
           CAST(COALESCE(o.overlap, 0) * 1000000 // tb.n AS BIGINT) AS recall_q6,
           CAST(2 * COALESCE(o.overlap, 0) * 1000000 // (ta.n + tb.n) AS BIGINT)
             AS f1_q6
    FROM fpairs p
    LEFT JOIN ov o ON o.id_a = p.id_a AND o.id_b = p.id_b
    JOIN tot ta ON ta.doc_id = p.id_a
    JOIN tot tb ON tb.doc_id = p.id_b
    """,
    tags=("text", "rouge", "similarity", "index", "llm-data", "round11"),
)
def q_rouge2_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 (clipped bigram overlap) over the verified near-dup
    pairs — the fifth pair-quality score reading the SAME materialized
    pair-index snapshot (Jaccard verdict, BLEU precision, chrF F-score,
    containment, now ROUGE-2): overlap = sum over bigram types of
    min(count_a, count_b); precision = overlap/|bigrams_a|, recall =
    overlap/|bigrams_b|, and F1 reduces to the EXACT rational
    2*overlap/(n_a + n_b) — emitted as integer floor divisions, so the
    score is integer end to end.

    Exactness: clipped counts and totals are exact integers from one
    bigram census of the endpoint docs; no float anywhere.

    Scale shape: the snapshot read is candidate-scale; the bigram
    census runs ONLY over endpoint docs (semi-join pushdown) with a
    materialized token column; the overlap join fans each pair out by
    its first endpoint's bigram types — candidate-grain x doc-length,
    never corpus-grain.
    """
    from .dedup2 import PAIR_INDEX

    fpairs = PAIR_INDEX.read(spark, sf_dir)
    d = tables(spark, sf_dir)["documents"]
    ends = (
        fpairs.select(F.col("id_a").alias("doc_id"))
        .union(fpairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    toked = d.join(ends, "doc_id", "left_semi").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    bigrams = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.try_element_at(F.col("toks"), i.cast("int")),
                    F.try_element_at(F.col("toks"), (i + 1).cast("int")),
                ),
            )
        ).alias("g"),
    )
    cnt = bigrams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    ca = cnt.select(F.col("doc_id").alias("id_a"), "g", F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("id_b"), "g", F.col("c").alias("cb"))
    ov = (
        fpairs.select("id_a", "id_b")
        .join(ca, "id_a")
        .join(cb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).cast("bigint").alias("overlap"))
    )
    ta = tot.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        fpairs.select("id_a", "id_b")
        .join(ov, ["id_a", "id_b"], "left")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce("overlap", F.lit(0)).cast("bigint").alias("overlap"),
            "n_a",
            "n_b",
            F.expr("coalesce(overlap, 0) * 1000000 DIV n_a")
            .cast("bigint")
            .alias("precision_q6"),
            F.expr("coalesce(overlap, 0) * 1000000 DIV n_b")
            .cast("bigint")
            .alias("recall_q6"),
            F.expr("2 * coalesce(overlap, 0) * 1000000 DIV (n_a + n_b)")
            .cast("bigint")
            .alias("f1_q6"),
        )
    )
