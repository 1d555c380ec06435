"""Round-11 batch 6: the stored-index pattern completed for TEXT
retrieval — a persisted postings/doclen/stats index with a BM25 serving
probe — plus the ANN serving-recall certification and the degree
assortativity of the near-dup pair graph (pair-snapshot consumer #6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from .registry import query
from .stored import Part, StoredIndex

# ---------------------------------------------------------------------------
# Stored text index: postings (token, doc_id, tf, df) + doclen + stats
# ---------------------------------------------------------------------------


def text_index_parts(docs: DataFrame, with_df: bool) -> dict[str, Part]:
    """The lexical index over ``docs``: postings (token, doc_id, tf),
    the doc-length table and the 1-row corpus stats. ``with_df``
    denormalizes the document frequency onto every posting row, so idf
    needs no second lookup. Postings are sorted by token: a probe for a
    handful of query terms reads token-clustered row groups via zone
    maps."""
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    postings = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    if with_df:
        postings = postings.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("token")).cast("bigint")
        )
    doclen = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl")
    )
    stats = doclen.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    return {
        "postings": (postings, ("token",)),
        "doclen": (doclen, ("doc_id",)),
        "stats": (stats, ()),
    }


# The serving index a BM25 probe reads; the revision token changes
# whenever tokenization or the derivation does.
TEXT_INDEX = StoredIndex(
    tag="text_index",
    rev="r1tok-ws",
    source="documents",
    parts=("postings", "doclen", "stats"),
    derive=lambda spark, sf_dir: text_index_parts(
        tables(spark, sf_dir)["documents"], with_df=True
    ),
)


from .round7f import _BM25_TERMS, _BM25_TERMS_SQL  # noqa: E402 (same query set)


@query(
    "q_bm25_stored_index",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, token
    ),
    df_ AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(1000000.0 * (
               LN((CAST(s.n_docs AS DOUBLE) - CAST(df_.df AS DOUBLE) + 0.5)
                  / (CAST(df_.df AS DOUBLE) + 0.5) + 1.0)
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                     (CAST(dl.dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))
             )) AS BIGINT) AS term_q
      FROM tf JOIN df_ ON df_.token = tf.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(term_q) AS BIGINT) AS bm25_q,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY bm25_q DESC, doc_id LIMIT 15
    """,
    tags=("text", "retrieval", "bm25", "index", "serving", "llm-data", "round11"),
)
def q_bm25_stored_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 SERVING over the stored text index — the lexical sibling of
    q_knn_ivf_stored, completing the index-once/serve-many pattern for
    text retrieval: the same 3-term query and k1=1.2/b=0.75 formula as
    q_bm25_retrieval, but tf and the denormalized df come from the
    postings parquet (token filter -> zone-map-pruned, token-clustered
    row groups), document lengths from the stored doclen table, and the
    corpus stats from the stored 1-row table. The oracle derives
    everything live, so the hash verdict proves stored-index-serving ==
    full derivation.

    Exactness: identical quantized-per-term integer scoring to
    q_bm25_retrieval (term scores floor at 1e6 BEFORE the per-doc sum).

    Scale shape: the serving probe reads O(sum of query-term posting
    lists) index rows — never the corpus — plus two broadcast scalars;
    the top-15 cut is TakeOrdered.
    """
    idx = TEXT_INDEX.read(spark, sf_dir)
    tf = idx["postings"].filter(F.col("token").isin(*_BM25_TERMS))
    dl = idx["doclen"]
    stats = idx["stats"]
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tfn = (F.col("tf").cast("double") * 2.2) / (
        F.col("tf").cast("double")
        + 1.2
        * (
            0.25
            + 0.75
            * (
                F.col("dl").cast("double")
                / (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double"))
            )
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(F.lit(1000000.0) * (idf * tfn)).cast("bigint").alias("term_q"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_q").cast("bigint").alias("bm25_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25_q").desc(), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# ANN serving-recall certification: stored-IVF top-k vs exact top-k
# ---------------------------------------------------------------------------

from .clustering import _ASSIGN_SQL, K  # noqa: E402
from .corpus_ops import _QUANT_SQL  # noqa: E402
from .round11 import _IVF_NPROBE, _IVF_QMAX, _IVF_TOPK, q_knn_ivf_stored  # noqa: E402


@query(
    "q_ivf_serving_recall",
    oracle=f"""
    WITH {_QUANT_SQL},
    {_ASSIGN_SQL},
    qset AS (
      SELECT vec_id AS query_id, qv
      FROM q8 WHERE vec_id % 10 = 7 AND vec_id < {_IVF_QMAX}
    ),
    exact AS (
      SELECT query_id, nid FROM (
        SELECT s.query_id, m.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY CAST(list_dot_product(s.qv, m.qv) AS BIGINT) DESC,
                          m.vec_id) AS rnk
        FROM qset s JOIN q8 m ON m.vec_id != s.query_id
      ) WHERE rnk <= {_IVF_TOPK}
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
                                  ORDER BY dist2 * {K} + cid) AS pr
        FROM qd
      ) WHERE pr <= {_IVF_NPROBE}
    ),
    approx AS (
      SELECT query_id, nid FROM (
        SELECT p.query_id, a.vec_id AS nid,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY CAST(list_dot_product(qs.qv, m.qv) AS BIGINT) DESC,
                          a.vec_id) AS rnk
        FROM probes p
        JOIN assign a ON a.centroid_id = p.cid
        JOIN q8 m ON m.vec_id = a.vec_id
        JOIN qset qs ON qs.query_id = p.query_id
        WHERE a.vec_id != p.query_id
      ) WHERE rnk <= {_IVF_TOPK}
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           CAST(SUM(CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS recall_q6
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.nid = e.nid
    GROUP BY e.query_id
    """,
    tags=("similarity", "ivf", "eval", "recall", "serving", "round11"),
)
def q_ivf_serving_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_IVF_TOPK} certification of the stored-IVF SERVING path:
    the exact integer-dot brute-force top-{_IVF_TOPK} is ground truth,
    and each query's hit count says how much the {_IVF_NPROBE}-cell
    probe loses — THE number that decides whether n_probe must grow
    before the index ships. Composes the certified q_knn_ivf_stored
    plan (the approx side literally calls it) with one brute-force
    scoring pass.

    Exactness: both top-k sets rank by exact integer dots with
    deterministic ties; recall is an integer floor division.

    Scale shape: ground truth is the brute-force eval baseline (one
    corpus scan for 8 queries); the approx side is the O(probed cells)
    serving plan; the comparison is a {_IVF_TOPK}-row-per-query join.
    """
    from pyspark.sql import Window as W

    from .corpus_ops import _quantized

    e = _quantized(tables(spark, sf_dir)["embeddings"])
    qset = e.filter(
        ((F.col("vec_id") % 10) == 7) & (F.col("vec_id") < _IVF_QMAX)
    ).select(F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"))
    idot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, b: a.cast("bigint") * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        e.select(F.col("vec_id").alias("nid"), F.col("qv").alias("m_qv"))
        .crossJoin(F.broadcast(qset))
        .filter(F.col("nid") != F.col("query_id"))
        .select("query_id", "nid", idot(F.col("q_qv"), F.col("m_qv")).alias("dot"))
    )
    we = W.partitionBy("query_id").orderBy(F.col("dot").desc(), "nid")
    exact = (
        scored.withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= _IVF_TOPK)
        .select("query_id", "nid")
    )
    approx = q_knn_ivf_stored(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("a_nid")
    )
    return (
        exact.join(
            approx,
            (exact.query_id == approx.query_id) & (exact.nid == approx.a_nid),
            "left",
        )
        .select(exact.query_id.alias("query_id"), "nid", "a_nid")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.when(F.col("a_nid").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
            F.expr(
                "CAST(SUM(CASE WHEN a_nid IS NOT NULL THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("recall_q6"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the near-dup pair graph (snapshot consumer #6)
# ---------------------------------------------------------------------------

from .dedup2 import _PAIRS_CTE  # noqa: E402


@query(
    "q_degree_assortativity",
    oracle=_PAIRS_CTE
    + """,
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT id_a AS node FROM fpairs UNION ALL SELECT id_b FROM fpairs
      ) GROUP BY node
    ),
    ej AS (
      SELECT da.d AS j, db.d AS k
      FROM fpairs p JOIN deg da ON da.node = p.id_a
                    JOIN deg db ON db.node = p.id_b
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(j * k) AS BIGINT) AS s_jk,
             CAST(SUM(j + k) AS BIGINT) AS s_sum,
             CAST(SUM(j * j + k * k) AS BIGINT) AS s_sq
      FROM ej
    )
    SELECT m, s_jk, s_sum, s_sq,
           CAST(FLOOR(1000000.0
                * (4.0 * m * s_jk - CAST(s_sum AS DOUBLE) * s_sum)
                / NULLIF(2.0 * m * s_sq - CAST(s_sum AS DOUBLE) * s_sum, 0.0))
                AS BIGINT) AS assortativity_q6
    FROM s
    """,
    tags=("graph", "dedup", "index", "stats", "llm-data", "round11"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the verified near-dup pair
    graph, reading the pair-index SNAPSHOT (consumer #6): the Pearson
    correlation of endpoint degrees across edges — positive means
    duplicate hubs connect to hubs (template families), negative means
    hub-and-spoke (one canonical doc quoted by many one-off copies) —
    the structural read that picks between cluster-level and pair-level
    removal strategies.

    Exactness: degrees and all four edge sums are exact integers; r is
    one floor-quantized double of exact integers via the standard
    computational formula r = (4M*Sjk - Ssum^2) / (2M*Ssq - Ssum^2)
    (the 1/2-per-edge factors cancel through numerator and denominator).

    Scale shape: the snapshot read is candidate-scale; degrees are one
    rollup of the edge list; the final statistic is a 1-row aggregate.
    """
    from .dedup2 import PAIR_INDEX

    fpairs = PAIR_INDEX.read(spark, sf_dir).select("id_a", "id_b")
    deg = (
        fpairs.select(F.col("id_a").alias("node"))
        .union(fpairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("node").alias("id_a"), F.col("d").alias("j"))
    db = deg.select(F.col("node").alias("id_b"), F.col("d").alias("k"))
    ej = fpairs.join(F.broadcast(da), "id_a").join(F.broadcast(db), "id_b")
    s = ej.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("s_jk"),
        F.sum(F.col("j") + F.col("k")).cast("bigint").alias("s_sum"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k"))
        .cast("bigint")
        .alias("s_sq"),
    )
    return s.select(
        "m",
        "s_jk",
        "s_sum",
        "s_sq",
        F.floor(
            F.lit(1000000.0)
            * (
                F.lit(4.0) * F.col("m") * F.col("s_jk")
                - F.col("s_sum").cast("double") * F.col("s_sum")
            )
            / F.nullif(
                F.lit(2.0) * F.col("m") * F.col("s_sq")
                - F.col("s_sum").cast("double") * F.col("s_sum"),
                F.lit(0.0),
            )
        )
        .cast("bigint")
        .alias("assortativity_q6"),
    )
