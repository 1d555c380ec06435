"""Integer-exact KMeans (Lloyd) steps in quantized int8 space.

The IVF index (operators/ivf.py) trains float centroids — inherently
rows-only at the driver gate because float means drift in the last ulps
between engines. These queries re-express ONE Lloyd iteration over the
int8-quantized embedding space where every quantity is an integer:
assignment distances are integer L2 (|q_i| <= 127), tie-breaks are
encoded into the minimized key, and the centroid update is a positional
integer sum + floor division. Both steps therefore carry full driver
hash verdicts — the exactness treatment the float KMeans can't have.

Scale shape (100 TB): assignment is the IVF probe shape — centroids
broadcast (k x dim, tiny), the corpus never shuffles, one map-side gemm
per batch; the update is one shuffle keyed by (centroid, position),
partial sums map-side combined — the canonical distributed Lloyd step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .corpus_ops import _QUANT_SQL, _quantized
from .registry import query

K = 8  # centroids = quantized vectors of vec_id 0..K-1 (deterministic seed)


def _assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, centroid_id, dist2): nearest centroid by integer squared
    L2 in int8 space; ties break toward the smaller centroid id via the
    dist2*K + cid key encoding (dist2 <= 64*254^2 ~ 4.1e6, so the key
    fits comfortably and decodes exactly)."""
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    cent = (
        e.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"))
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
    d = e.select("vec_id", "qv").crossJoin(F.broadcast(cent)).select(
        "vec_id", (diff2 * K + F.col("cid")).alias("key")
    )
    k = d.groupBy("vec_id").agg(F.min("key").alias("key"))
    return k.select(
        "vec_id",
        (F.col("key") % K).cast("int").alias("centroid_id"),
        F.expr(f"key DIV {K}").cast("bigint").alias("dist2"),
    )


_ASSIGN_SQL = f"""
    cent AS (SELECT vec_id AS cid, qv AS cqv FROM q8 WHERE vec_id < {K}),
    d AS (
      SELECT q.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                   i -> CAST(q.qv[i] - c.cqv[i] AS BIGINT)
                        * CAST(q.qv[i] - c.cqv[i] AS BIGINT))) AS BIGINT) AS dist2
      FROM q8 q CROSS JOIN cent c
    ),
    a AS (
      SELECT vec_id, MIN(dist2 * {K} + cid) AS key FROM d GROUP BY vec_id
    ),
    assign AS (
      SELECT vec_id, CAST(key % {K} AS INT) AS centroid_id,
             CAST(key // {K} AS BIGINT) AS dist2
      FROM a
    )"""


@query(
    "q_kmeans_assign_int8",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL}
    SELECT vec_id, centroid_id, dist2 FROM assign
    """,
    tags=("similarity", "clustering", "llm-data"),
)
def q_kmeans_assign_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd ASSIGNMENT step, integer-exact: every embedding to its
    nearest of K=8 int8 centroids by integer squared L2, deterministic
    tie-breaks. Centroids broadcast; the corpus never shuffles — the
    same plan shape operators/ivf.py uses for probe assignment, here
    with a hard hash verdict."""
    return _assignments(spark, sf_dir)


@query(
    "q_kmeans_update_int8",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL},
    pos AS (
      SELECT a.centroid_id, u.i AS pos, CAST(q.qv[u.i] AS BIGINT) AS val
      FROM assign a, q8 q, unnest(range(1, len(q.qv) + 1)) AS u(i)
      WHERE q.vec_id = a.vec_id
    )
    -- floor() over one exact double division on BOTH engines: psum can
    -- be negative (int8 sums straddle zero) and Spark's DIV truncates
    -- toward zero while integer-division operators vary — floor is the
    -- one semantics both engines state identically
    SELECT centroid_id, CAST(pos AS INT) AS pos,
           CAST(SUM(val) AS BIGINT) AS psum,
           COUNT(*) AS n,
           CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS new_q
    FROM pos
    GROUP BY centroid_id, pos
    """,
    tags=("similarity", "clustering", "llm-data"),
)
def q_kmeans_update_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd UPDATE step, integer-exact: positional sums of each
    centroid's assigned int8 vectors, floor-divided by the cluster size
    — (centroid, dim) rows carrying the exact partial sums a distributed
    trainer would combine map-side. One shuffle keyed by
    (centroid_id, pos); at 1e9 vectors the per-key width is the cluster
    population, reduced by map-side partial aggregation."""
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    assign = _assignments(spark, sf_dir)
    joined = assign.join(e.select("vec_id", "qv"), "vec_id")
    pos = joined.select(
        "centroid_id",
        F.posexplode(F.col("qv")).alias("pos0", "val"),
    ).select(
        "centroid_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("val").cast("bigint").alias("val"),
    )
    return (
        pos.groupBy("centroid_id", "pos")
        .agg(F.sum("val").alias("psum"), F.count(F.lit(1)).alias("n"))
        .select(
            "centroid_id",
            "pos",
            "psum",
            "n",
            F.floor(F.col("psum").cast("double") / F.col("n")).cast("bigint").alias("new_q"),
        )
    )


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH {_QUANT_SQL},
    pairs AS (
      SELECT qa.vec_id AS query_id, qa.label AS query_label,
             ca.vec_id AS neighbor_id, ca.label AS neg_label,
             list_dot_product(qa.qv, ca.qv)
             / (sqrt(list_dot_product(qa.qv, qa.qv)) * sqrt(list_dot_product(ca.qv, ca.qv))) AS cos_raw
      FROM q8 qa JOIN q8 ca ON ca.label != qa.label
      WHERE qa.vec_id < 8
    )
    SELECT query_id, neighbor_id, neg_label, rank, round(cos_raw, 6) AS q_cosine
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= 5
    """,
    tags=("similarity", "training", "llm-data"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/Contriever
    recipe): for each query vector, the top-5 most-similar vectors with
    a DIFFERENT label — near misses that teach the sharpest decision
    boundaries. Same broadcast-queries / zero-corpus-shuffle shape as
    the int8 KNN, with the label-mismatch predicate riding the join."""
    from pyspark.sql import Window as W

    from ..operators.similarity import dot_col

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neg_label"),
        F.col("qv").alias("c_qv"),
    )
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label"),
        F.col("qv").alias("q_qv"),
    )
    cos = dot_col(F.col("q_qv"), F.col("c_qv")) / (
        F.sqrt(dot_col(F.col("q_qv"), F.col("q_qv")))
        * F.sqrt(dot_col(F.col("c_qv"), F.col("c_qv")))
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("neg_label") != F.col("query_label")
    ).select("query_id", "neighbor_id", "neg_label", cos.alias("cos_raw"))
    w = W.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "neg_label", "rank",
                F.round("cos_raw", 6).alias("q_cosine"))
    )


def _rademacher_planes(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic +/-1 hyperplanes from md5 parity — generated once in
    Python and embedded as LITERALS in both the Spark plan and the SQL
    oracle, so neither engine hashes at runtime and both see the same
    planes by construction. Rademacher components are a valid LSH family
    for cosine (same collision-probability guarantee class as Gaussian,
    cf. the sign-random-projection literature)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"plane:{p}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


_PLANES = _rademacher_planes()


@query(
    "q_knn_lsh_buckets_portable",
    oracle=f"""
    WITH {_QUANT_SQL},
    dots AS (
      SELECT vec_id,
             {", ".join(
                 "list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * ([" +
                 ",".join(str(c) for c in plane) + "])[i])) AS d" + str(p)
                 for p, plane in enumerate(_PLANES))}
      FROM q8
    )
    SELECT vec_id,
           CAST({" + ".join(f"(CASE WHEN d{p} > 0 THEN {2 ** p} ELSE 0 END)" for p in range(len(_PLANES)))}
                AS BIGINT) AS bucket
    FROM dots
    """,
    tags=("similarity", "lsh", "llm-data"),
)
def q_knn_lsh_buckets_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment with a hard hash verdict — the
    portable twin of the rows-only q_knn_lsh_buckets (whose Gaussian
    planes come from a seeded RNG no SQL engine reproduces): +/-1
    Rademacher planes embedded as literals in both engines, dot products
    over the int8-quantized vectors so every dot is an INTEGER and the
    sign test has no float ambiguity. 8 planes -> 256 buckets, the
    ~256x candidate-reduction pre-filter for cosine search. Map-side
    only; zero shuffle."""
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
    d = e.select("vec_id", *dots)
    bucket = None
    for p in range(len(_PLANES)):
        term = F.when(F.col(f"d{p}") > 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return d.select("vec_id", bucket.cast("bigint").alias("bucket"))


N_PROBE = 2
IVF_TOPK = 3


@query(
    "q_ivf_probe_portable",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL},
    qprobe AS (
      SELECT vec_id AS query_id, cid, dist2,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist2 * {K} + cid) AS probe_rank
      FROM d WHERE vec_id >= {K} AND vec_id < {K} + 8
    ),
    probes AS (SELECT query_id, cid FROM qprobe WHERE probe_rank <= {N_PROBE}),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.centroid_id = p.cid
      WHERE a.vec_id != p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(list_dot_product(qa.qv, ca.qv) AS BIGINT) AS dot
      FROM cands c
      JOIN q8 qa ON qa.vec_id = c.query_id
      JOIN q8 ca ON ca.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dot DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {IVF_TOPK}
    """,
    tags=("similarity", "ivf", "llm-data"),
)
def q_ivf_probe_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF SEARCH step with a hard hash verdict — the portable twin of
    the rows-only q_knn_ivf (whose float Lloyd centroids drift in the
    last ulps across engines): centroids are the K int8 seed vectors,
    each of 8 query vectors probes its {N_PROBE} nearest cells (integer
    L2, key-encoded ties), and candidates are ranked by integer dot
    product within the probed cells. Exactly the operators/ivf.py plan
    shape — probe assignment broadcast, corpus never shuffles — with
    every quantity integer-reproducible."""
    from pyspark.sql import Window as W

    from ..operators.similarity import dot_col

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    cent = e.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("cqv"),
            lambda a, b: (a - b).cast("bigint") * (a - b).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qset = e.filter((F.col("vec_id") >= K) & (F.col("vec_id") < K + 8))
    qd = qset.select("vec_id", "qv").crossJoin(F.broadcast(cent)).select(
        F.col("vec_id").alias("query_id"), "cid", (diff2 * K + F.col("cid")).alias("key")
    )
    wp = W.partitionBy("query_id").orderBy("key")
    probes = (
        qd.withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= N_PROBE)
        .select("query_id", "cid")
    )
    assign = _assignments(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"), F.col("centroid_id").alias("cid")
    )
    cands = probes.join(assign, "cid").filter(F.col("neighbor_id") != F.col("query_id"))
    qa = e.select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"))
    ca = e.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("c_qv"))
    scored = (
        cands.join(F.broadcast(qa), "query_id")
        .join(ca, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_col(F.col("q_qv"), F.col("c_qv")).cast("bigint").alias("dot"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= IVF_TOPK)
        .select("query_id", "neighbor_id", "dot", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------- PQ ANN

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (8 x 8 = the 64-dim embedding)
PQ_K = 16  # centroids per subspace codebook
PQ_NQ_LO, PQ_NQ_HI = 100, 103  # ADC query vector ids
PQ_TOPK = 5

_PQ_ENC_SQL = f"""
    subs AS (
      SELECT vec_id, CAST(m AS INT) AS m,
             list_slice(qv, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS sv
      FROM q8, unnest(range(0, {PQ_M})) AS u(m)
    ),
    cent AS (
      SELECT m, CAST(vec_id AS INT) AS cid, sv AS csv
      FROM subs WHERE vec_id < {PQ_K}
    ),
    d AS (
      SELECT s.vec_id, s.m, c.cid,
             CAST(list_sum(list_transform(range(1, {PQ_SUB} + 1),
                   i -> CAST(s.sv[i] - c.csv[i] AS BIGINT)
                        * CAST(s.sv[i] - c.csv[i] AS BIGINT))) AS BIGINT) AS dist2
      FROM subs s JOIN cent c ON s.m = c.m
    ),
    a AS (
      SELECT vec_id, m, MIN(dist2 * {PQ_K} + cid) AS key FROM d GROUP BY 1, 2
    ),
    enc AS (
      SELECT vec_id, m, CAST(key % {PQ_K} AS INT) AS code,
             CAST(key // {PQ_K} AS BIGINT) AS dist2
      FROM a
    )"""


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    return e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
        "qv",
    ).select(
        "vec_id", F.col("m").cast("int").alias("m"),
        F.expr(f"slice(qv, m * {PQ_SUB} + 1, {PQ_SUB})").alias("sv"),
    )


def _pq_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code, dist2): per-subspace nearest-codeword id by
    integer L2 with the dist2*K+cid tie-break key (dist2 <= 8*254^2, the
    key decodes exactly)."""
    subs = barrier(_pq_subvectors(spark, sf_dir), "reuse")
    cent = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cid"), F.col("sv").alias("csv")
    )
    diff2 = F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("csv"),
            lambda a, b: (a - b).cast("bigint") * (a - b).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d = subs.join(F.broadcast(cent), "m").select(
        "vec_id", "m", (diff2 * PQ_K + F.col("cid")).alias("key")
    )
    a = d.groupBy("vec_id", "m").agg(F.min("key").alias("key"))
    return a.select(
        "vec_id",
        "m",
        (F.col("key") % PQ_K).cast("int").alias("code"),
        F.expr(f"key DIV {PQ_K}").cast("bigint").alias("dist2"),
    )


@query(
    "q_pq_encode_portable",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_PQ_ENC_SQL}
    SELECT vec_id, string_agg(code, '-' ORDER BY m) AS codes,
           CAST(SUM(dist2) AS BIGINT) AS qerr
    FROM enc GROUP BY vec_id
    """,
    tags=("similarity", "ann", "pq", "portable", "llm-data"),
)
def q_pq_encode_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ENCODE, hash-verified: split each
    64-dim int8 vector into 8 subspaces of 8 dims, snap every subvector
    to its nearest of 16 per-subspace codewords (integer L2,
    deterministic tie-break), and emit the 8-byte PQ code per vector
    plus its exact total quantization error. Completes the FAISS-style
    ANN triad — flat (q_knn_cosine_bruteforce), IVF (q_knn_ivf), and now
    PQ — with the codebook seeded from the first 16 vectors
    (deterministic, same convention as the integer-KMeans seeds; a
    production index trains codebooks with the Lloyd steps these queries
    already verify).

    Scale shape: the codebook is M*K subvectors (~8 KB) broadcast
    everywhere; encoding is map-side (corpus never shuffles) and shrinks
    each 64-byte int8 vector to 8 code bytes — the 8x memory compression
    that lets a 1e9-vector index live in RAM. The subspace explode is
    8 rows per vector feeding a (vec, m)-keyed min-agg, map-side
    combined.
    """
    enc = _pq_encoded(spark, sf_dir)
    return enc.groupBy("vec_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"].cast("string"),
            ),
        ).alias("codes"),
        F.sum("dist2").cast("bigint").alias("qerr"),
    )


@query(
    "q_pq_adc_topk_portable",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_PQ_ENC_SQL},
    lut AS (  -- per-query distance lookup table: query subvector vs
              -- every codeword, 4 x 8 x 16 integer cells
      SELECT s.vec_id AS q_id, s.m, c.cid,
             CAST(list_sum(list_transform(range(1, {PQ_SUB} + 1),
                   i -> CAST(s.sv[i] - c.csv[i] AS BIGINT)
                        * CAST(s.sv[i] - c.csv[i] AS BIGINT))) AS BIGINT) AS ld
      FROM subs s JOIN cent c ON s.m = c.m
      WHERE s.vec_id BETWEEN {PQ_NQ_LO} AND {PQ_NQ_HI}
    ),
    adc AS (
      SELECT l.q_id, e.vec_id, SUM(l.ld) AS adc_dist
      FROM enc e JOIN lut l ON l.m = e.m AND l.cid = e.code
      WHERE e.vec_id != l.q_id
      GROUP BY l.q_id, e.vec_id
    ),
    ranked AS (
      SELECT q_id, vec_id, CAST(adc_dist AS BIGINT) AS adc_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY adc_dist, vec_id) AS rank
      FROM adc
    )
    SELECT q_id, vec_id, adc_dist, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {PQ_TOPK}
    """,
    tags=("similarity", "ann", "pq", "portable", "llm-data"),
)
def q_pq_adc_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ASYMMETRIC-DISTANCE top-k search, hash-verified: for each
    query vector build the M x K lookup table of integer L2 distances to
    every codeword, then score every database vector as the SUM of 8
    table lookups on its code — the ADC scan that makes PQ search
    O(M) adds per candidate instead of O(dim) multiplies — and rank the
    top-5 neighbors per query (deterministic ties by vec_id).

    Scale shape: the LUT is queries x M x K cells (512 rows here) —
    broadcast; the scan joins the code table (8 rows per vector, the
    compressed index) against the LUT and map-side-combines the per-
    vector sums; final top-k is a per-query TakeOrdered. The raw
    embeddings are touched ONLY for the queries — the database side
    reads nothing but codes, which is the entire point of PQ at 1e9+
    vectors.
    """
    subs = barrier(_pq_subvectors(spark, sf_dir), "reuse")
    cent = subs.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").cast("int").alias("cid"), F.col("sv").alias("csv")
    )
    qsubs = subs.filter(
        (F.col("vec_id") >= PQ_NQ_LO) & (F.col("vec_id") <= PQ_NQ_HI)
    ).select(F.col("vec_id").alias("q_id"), "m", "sv")
    ld = F.aggregate(
        F.zip_with(
            F.col("sv"),
            F.col("csv"),
            lambda a, b: (a - b).cast("bigint") * (a - b).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    lut = qsubs.join(F.broadcast(cent), "m").select("q_id", "m", "cid", ld.alias("ld"))
    enc = _pq_encoded(spark, sf_dir)
    adc = (
        enc.join(
            F.broadcast(lut),
            (enc["m"] == lut["m"]) & (enc["code"] == lut["cid"]),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("ld").alias("adc_dist"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "q_id",
            "vec_id",
            F.col("adc_dist").cast("bigint").alias("adc_dist"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query(
    "q_rank_normalize_embeddings",
    oracle=f"""
    WITH {_QUANT_SQL},
    pos AS (
      SELECT vec_id, CAST(i AS INT) AS pos, CAST(qv[CAST(i AS INT)] AS BIGINT) AS val
      FROM q8, unnest(range(1, len(qv) + 1)) AS u(i)
    ),
    ranked AS (
      SELECT vec_id, pos, val,
             RANK() OVER (PARTITION BY pos ORDER BY val) AS r
      FROM pos
    )
    SELECT vec_id,
           CAST(SUM(r) AS BIGINT) AS rank_sum,
           CAST(MIN(r) AS BIGINT) AS rank_min,
           CAST(MAX(r) AS BIGINT) AS rank_max
    FROM ranked GROUP BY vec_id
    """,
    tags=("similarity", "normalization", "llm-data"),
)
def q_rank_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension RANK (quantile) normalization of the embedding
    corpus — the distribution-free feature transform (each dimension's
    values replaced by their rank within that dimension) that makes
    downstream distance metrics robust to per-dimension scale and
    outliers. Tie handling is RANK() (equal values share a rank), which
    is deterministic without any tie-break column, so the transform is
    integer-exact; per-vector rank sum/min/max land in the driver hash
    as the transform's fingerprint.

    Scale shape: one posexplode feeds dim-partitioned rank windows — 64
    independent partitions, each sorting one dimension's column; at
    1e9+ vectors per-dimension sorts become the bottleneck and the
    documented swap is approximate quantile bucketing (percentile-bound
    assignment, no global sort) at the cost of rank granularity. The
    final regroup shuffles (vec, rank) pairs once.
    """
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    pos = e.select("vec_id", F.posexplode("qv").alias("pos0", "val")).select(
        "vec_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("val").cast("bigint").alias("val"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("pos").orderBy("val")
    ranked = pos.select("vec_id", F.rank().over(w).alias("r"))
    return ranked.groupBy("vec_id").agg(
        F.sum("r").cast("bigint").alias("rank_sum"),
        F.min("r").cast("bigint").alias("rank_min"),
        F.max("r").cast("bigint").alias("rank_max"),
    )
