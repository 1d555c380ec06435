"""Round-8 operator batch 2: batch model inference (fixed-weight
logistic scoring), Apriori level-3 frequent itemsets, incremental
cross-snapshot dedup, lakehouse compaction planning, coordinated
bottom-k sampling, and simplified silhouette cluster quality.

Family placement: logistic scoring is the missing "apply a trained
quality classifier at corpus scale" step between q_text_quality_score
(hand rules) and the sampling tier; the Apriori triple miner extends
q_basket_part_pairs (pairs) with the candidate-generation + antimonotone
pruning that makes level-3 tractable; incremental dedup is the
production "dedup the incoming crawl against the existing corpus"
anti-join none of the intra-corpus dedup queries cover; compaction
planning is the maintenance sibling of q_zonemap_pruning_audit;
coordinated bottom-k sampling is the fixed-size sketch counterpart of
q_hash_sample (threshold Bernoulli) whose sample overlap *estimates*
cross-source Jaccard; simplified silhouette is the cluster-quality
metric for the int8 k-means tier (q_kmeans_assign_int8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .corpus_ops import _QUANT_SQL, _quantized
from .dedup2 import (
    BANDS,
    K,
    SHINGLE_N,
    _h_sql,
    portable_hash64,
    typed_minhash_signatures,
)
from ..operators.dedup import word_shingles_from_tokens
from .registry import query

# ---------------------------------------------------------------------------
# Fixed-weight logistic-regression scoring (batch model inference)
# ---------------------------------------------------------------------------

# Literal model weights (a "trained" quality classifier): intercept,
# tokens/100, type-token ratio, avg token length, dup-marker indicator.
_LR_W0, _LR_W1, _LR_W2, _LR_W3, _LR_W4 = -1.5, 0.8, 2.0, -0.3, 1.2


@query(
    "q_logreg_score_text",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq,
             n_chars,
             CASE WHEN list_contains(string_split(text, ' '), 'dup')
                  THEN 1.0 ELSE 0.0 END AS has_dup
      FROM documents
    ),
    z AS (
      SELECT doc_id, n_tok,
             CAST(n_uniq AS DOUBLE) / CAST(n_tok AS DOUBLE) AS ttr,
             ({_LR_W0} + {_LR_W1} * (CAST(n_tok AS DOUBLE) / 100.0)
              + {_LR_W2} * (CAST(n_uniq AS DOUBLE) / CAST(n_tok AS DOUBLE))
              + {_LR_W3} * (CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE))
              + {_LR_W4} * has_dup) AS z
      FROM f
    )
    SELECT doc_id, n_tok,
           CAST(FLOOR(1000000.0 * ttr) AS BIGINT) AS ttr_q6,
           CAST(FLOOR(1000000.0 * (1.0 / (1.0 + exp(-(z))))) AS BIGINT) AS score_q6,
           CAST(CASE WHEN FLOOR(1000000.0 * (1.0 / (1.0 + exp(-(z))))) >= 500000
                THEN 1 ELSE 0 END AS INT) AS pred
    FROM z
    """,
    tags=("mlops", "inference", "text", "round8"),
)
def q_logreg_score_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch inference of a fixed-weight logistic-regression text-quality
    classifier — the "apply the trained quality model to the whole
    corpus" step of a training-data pipeline (the fastText/DSIR-style
    quality gate), expressed entirely in JVM-side column arithmetic (no
    UDF): features are token count, type-token ratio, average token
    length (chars minus separating spaces over tokens), and the planted
    dup-marker indicator; the sigmoid is one fixed double expression
    tree over exact integer feature numerators, floor-quantized at 1e6
    (same cross-engine transcendental contract as the ln-based queries).

    Scale shape: embarrassingly parallel map over documents — no
    shuffle at all; the split() runs once per row inside one projection
    (token array materialized before reuse, the decontaminate O(len^2)
    inlining trap).
    """
    d = tables(spark, sf_dir)["documents"]
    t = d.select(
        "doc_id",
        "n_chars",
        F.split(F.col("text"), " ").alias("toks"),
    )
    f = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_uniq"),
        F.col("n_chars"),
        F.when(F.array_contains("toks", "dup"), 1.0).otherwise(0.0).alias("has_dup"),
    )
    ttr = F.col("n_uniq").cast("double") / F.col("n_tok").cast("double")
    z = (
        F.lit(_LR_W0)
        + F.lit(_LR_W1) * (F.col("n_tok").cast("double") / F.lit(100.0))
        + F.lit(_LR_W2) * (F.col("n_uniq").cast("double") / F.col("n_tok").cast("double"))
        + F.lit(_LR_W3)
        * (
            (F.col("n_chars") - (F.col("n_tok") - 1)).cast("double")
            / F.col("n_tok").cast("double")
        )
        + F.lit(_LR_W4) * F.col("has_dup")
    )
    score_q6 = F.floor(F.lit(1000000.0) * (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))).cast(
        "bigint"
    )
    return f.select(
        "doc_id",
        "n_tok",
        F.floor(F.lit(1000000.0) * ttr).cast("bigint").alias("ttr_q6"),
        score_q6.alias("score_q6"),
        F.when(score_q6 >= 500000, 1).otherwise(0).cast("int").alias("pred"),
    )


# ---------------------------------------------------------------------------
# Apriori level-3 frequent itemsets over order baskets
# ---------------------------------------------------------------------------


@query(
    "q_basket_triples_apriori",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS br
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
    th AS (
      SELECT n_orders,
             GREATEST(5, n_orders // 200) AS sup2_min,
             GREATEST(3, n_orders // 500) AS sup3_min
      FROM nn
    ),
    l2 AS (
      SELECT a.br AS x, c.br AS y, CAST(COUNT(*) AS BIGINT) AS sup
      FROM b a JOIN b c ON a.ok = c.ok AND a.br < c.br
      GROUP BY 1, 2
      HAVING COUNT(*) >= (SELECT sup2_min FROM th)
    ),
    cand AS (  -- Apriori candidate gen: join L2 on shared first item,
               -- prune unless the third face (y,z) is itself in L2
      SELECT p1.x AS x, p1.y AS y, p2.y AS z
      FROM l2 p1 JOIN l2 p2 ON p2.x = p1.x AND p1.y < p2.y
      WHERE EXISTS (SELECT 1 FROM l2 f WHERE f.x = p1.y AND f.y = p2.y)
    ),
    tri AS (
      SELECT c.x, c.y, c.z, CAST(COUNT(*) AS BIGINT) AS support
      FROM cand c
      JOIN b b1 ON b1.br = c.x
      JOIN b b2 ON b2.ok = b1.ok AND b2.br = c.y
      JOIN b b3 ON b3.ok = b1.ok AND b3.br = c.z
      GROUP BY 1, 2, 3
      HAVING COUNT(*) >= (SELECT sup3_min FROM th)
    )
    SELECT t.x AS brand_a, t.y AS brand_b, t.z AS brand_c, t.support,
           ab.sup AS sup_ab, ac.sup AS sup_ac, bc.sup AS sup_bc
    FROM tri t
    JOIN l2 ab ON ab.x = t.x AND ab.y = t.y
    JOIN l2 ac ON ac.x = t.x AND ac.y = t.z
    JOIN l2 bc ON bc.x = t.y AND bc.y = t.z
    ORDER BY t.support DESC, brand_a, brand_b, brand_c
    LIMIT 25
    """,
    tags=("analytics", "basket", "apriori", "round8"),
)
def q_basket_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori level-3 frequent itemsets (Agrawal & Srikant 1994) over
    brand baskets: frequent pairs L2 first, then candidate triples
    generated by self-joining L2 on a shared first item and PRUNED by
    the antimonotone property (every 2-subset must be frequent — the
    EXISTS check), then one support-counting pass. Extends
    q_basket_part_pairs from pairs to triples with the real
    candidate-generation machinery rather than brute-force enumeration.
    Thresholds scale with the basket count, so the contract is
    scale-free.

    Scale shape: the pair count is one self-join of the deduped basket
    table on its orderkey shuffle key; candidate triples live on the
    ITEM grain (brands), tiny by construction, and broadcast into the
    three-way support count, which is again orderkey-partitioned. No
    per-order triple enumeration ever happens without a candidate
    filter — the pruning that makes level-3 feasible when baskets are
    wide.
    """
    t = tables(spark, sf_dir)
    b = barrier(
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("br"))
        .distinct(),
        "reuse",  # feeds L2 self-join + 3-way count
    )
    th = b.agg(F.countDistinct("ok").cast("bigint").alias("n_orders")).select(
        F.greatest(F.lit(5).cast("bigint"), F.expr("n_orders DIV 200")).alias("sup2_min"),
        F.greatest(F.lit(3).cast("bigint"), F.expr("n_orders DIV 500")).alias("sup3_min"),
    )
    a2, c2 = b.alias("a"), b.alias("c")
    l2 = barrier(
        a2.join(c2, (F.col("a.ok") == F.col("c.ok")) & (F.col("a.br") < F.col("c.br")))
        .groupBy(F.col("a.br").alias("x"), F.col("c.br").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("sup"))
        .crossJoin(F.broadcast(th))
        .filter(F.col("sup") >= F.col("sup2_min"))
        .select("x", "y", "sup"),
        "reuse",  # L2 feeds candidate gen (x3) + final joins (x3)
    )
    p1, p2 = l2.alias("p1"), l2.alias("p2")
    cand = (
        p1.join(p2, (F.col("p2.x") == F.col("p1.x")) & (F.col("p1.y") < F.col("p2.y")))
        .select(F.col("p1.x").alias("x"), F.col("p1.y").alias("y"), F.col("p2.y").alias("z"))
        .join(
            l2.select(F.col("x").alias("y"), F.col("y").alias("z")),
            ["y", "z"],
            "left_semi",
        )
    )
    # Support counting enumerates each basket's ordered triples via two
    # orderkey-colocated self-joins (narrow baskets: ~C(4,3) rows per
    # order) and THEN semi-joins the broadcast candidate set — cheaper
    # by ~30x than probing candidates brand-first (a brand-only join
    # key fans every basket row out to every candidate sharing the
    # brand; measured 8.3 s -> sub-second support stage at sf0.1). For
    # WIDE baskets the enumeration explodes combinatorially and the
    # candidate-first probe (or a per-partition hash-tree count) wins —
    # the classic Apriori counting trade, documented not hidden.
    b1, b2, b3 = b.alias("b1"), b.alias("b2"), b.alias("b3")
    tri = (
        b1.join(b2, (F.col("b2.ok") == F.col("b1.ok")) & (F.col("b1.br") < F.col("b2.br")))
        .join(b3, (F.col("b3.ok") == F.col("b1.ok")) & (F.col("b2.br") < F.col("b3.br")))
        .select(
            F.col("b1.br").alias("x"), F.col("b2.br").alias("y"), F.col("b3.br").alias("z")
        )
        .join(F.broadcast(cand), ["x", "y", "z"], "left_semi")
        .groupBy("x", "y", "z")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .crossJoin(F.broadcast(th))
        .filter(F.col("support") >= F.col("sup3_min"))
    )
    ab = l2.select(F.col("x"), F.col("y"), F.col("sup").alias("sup_ab"))
    ac = l2.select(F.col("x"), F.col("y").alias("z"), F.col("sup").alias("sup_ac"))
    bc = l2.select(F.col("x").alias("y"), F.col("y").alias("z"), F.col("sup").alias("sup_bc"))
    return (
        tri.join(ab, ["x", "y"])
        .join(ac, ["x", "z"])
        .join(bc, ["y", "z"])
        .select(
            F.col("x").alias("brand_a"),
            F.col("y").alias("brand_b"),
            F.col("z").alias("brand_c"),
            "support",
            "sup_ab",
            "sup_ac",
            "sup_bc",
        )
        .orderBy(F.col("support").desc(), "brand_a", "brand_b", "brand_c")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Incremental cross-snapshot dedup (incoming docs vs existing corpus)
# ---------------------------------------------------------------------------

_BAND_R = K // BANDS


@query(
    "q_dedup_incremental_snapshot",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - {SHINGLE_N}, 0) + 1),
               i -> array_to_string(list_slice(toks, i + 1, i + {SHINGLE_N}), ' ')
             )) AS shingles
      FROM t
    ),
    sig AS (
      SELECT doc_id, shingles,
             list_transform(range(0, {K}),
               i -> list_min(list_transform(shingles, s -> {_h_sql('s', 'i')}))) AS sig
      FROM sh
    ),
    banded AS (
      SELECT doc_id, b AS band,
             array_to_string(list_transform(range(b * {_BAND_R} + 1, (b + 1) * {_BAND_R} + 1),
                                            r -> CAST(sig[r] AS VARCHAR)), ',') AS bucket
      FROM sig, unnest(range(0, {BANDS})) AS u(b)
    ),
    cpairs AS (  -- incoming (odd doc_id) probes corpus (even doc_id) buckets
      SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corp_id
      FROM banded i JOIN banded c
        ON c.band = i.band AND c.bucket = i.bucket
      WHERE i.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    ),
    verified AS (
      SELECT p.inc_id, p.corp_id,
             len(list_intersect(si.shingles, sc.shingles)) AS n_inter,
             len(si.shingles) + len(sc.shingles)
               - len(list_intersect(si.shingles, sc.shingles)) AS n_union
      FROM cpairs p
      JOIN sh si ON si.doc_id = p.inc_id
      JOIN sh sc ON sc.doc_id = p.corp_id
    ),
    dups AS (
      SELECT inc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
             CAST(MIN(corp_id) AS BIGINT) AS best_match
      FROM verified WHERE 2 * n_inter >= n_union GROUP BY inc_id
    ),
    best AS (
      SELECT d.inc_id, d.n_matches, d.best_match,
             CAST(v.n_inter AS BIGINT) AS j_num, CAST(v.n_union AS BIGINT) AS j_den
      FROM dups d JOIN verified v
        ON v.inc_id = d.inc_id AND v.corp_id = d.best_match
    )
    SELECT t.doc_id,
           CAST(CASE WHEN b.inc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
           b.n_matches, b.best_match, b.j_num, b.j_den
    FROM t LEFT JOIN best b ON b.inc_id = t.doc_id
    WHERE t.doc_id % 2 = 1
    """,
    tags=("dedup", "incremental", "llm-data", "round8"),
)
def q_dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup — the production "dedup the new
    crawl against the EXISTING corpus" step that none of the
    intra-corpus dedup queries cover: incoming docs (odd doc_id stand in
    for the new snapshot) probe the corpus's (even doc_id) LSH band
    buckets; candidates are verified with exact Jaccard >= 0.5 (integer
    form 2*|I| >= |U|), and each incoming doc reports whether it
    duplicates the corpus, its match count, and its lowest-id verified
    match with that pair's exact Jaccard fraction. Same portable MinHash
    machinery (16 hashes, 4 bands) as q_minhash_lsh_portable, so the
    whole flow carries a hash verdict.

    Scale shape: the corpus side's bucket index is built ONCE and only
    the incoming partition joins against it (band+bucket equi-join —
    never incoming x corpus); at 100 TB the corpus bucket index is the
    persisted artifact and each snapshot's probe is one shuffle of the
    incoming slice. Verification joins fetch only candidate shingle
    rows. Wall-clock here is dominated by the portable md5 signatures
    (the price of the exact oracle — the x16 probe shows the join tier
    itself scales sub-linearly); a production deployment signs with
    xxhash64 like q_dedup_minhash_lsh, ~16x faster per shingle.
    """
    d = tables(spark, sf_dir)["documents"]
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = barrier(toked.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
    ), "reuse")
    sig = typed_minhash_signatures(sh, K)  # md5 per shingle TYPE (SCALE.md r9)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * _BAND_R + 1, _BAND_R),
                            lambda s: s.cast("string"),
                        ),
                        ",",
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    inc_b = banded.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("inc_id"), "band", "bucket"
    )
    corp_b = banded.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("corp_id"), "band", "bucket"
    )
    cpairs = inc_b.join(corp_b, ["band", "bucket"]).select("inc_id", "corp_id").distinct()
    si = sh.select(F.col("doc_id").alias("inc_id"), F.col("shingles").alias("sh_i"))
    sc = sh.select(F.col("doc_id").alias("corp_id"), F.col("shingles").alias("sh_c"))
    inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_c")))
    union = F.size("sh_i") + F.size("sh_c") - inter
    verified = barrier(
        cpairs.join(si, "inc_id")
        .join(sc, "corp_id")
        .select("inc_id", "corp_id", inter.alias("n_inter"), union.alias("n_union")),
        "reuse",  # feeds dup census + best-match join
    )
    dups = (
        verified.filter(2 * F.col("n_inter") >= F.col("n_union"))
        .groupBy("inc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("corp_id").cast("bigint").alias("best_match"),
        )
    )
    best = dups.join(
        verified.select(
            "inc_id",
            F.col("corp_id").alias("best_match"),
            F.col("n_inter").cast("bigint").alias("j_num"),
            F.col("n_union").cast("bigint").alias("j_den"),
        ),
        ["inc_id", "best_match"],
    )
    incoming = d.filter(F.col("doc_id") % 2 == 1).select("doc_id")
    return incoming.join(
        best.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.when(F.col("best_match").isNotNull(), 1).otherwise(0).cast("int").alias("is_dup"),
        "n_matches",
        "best_match",
        "j_num",
        "j_den",
    )


# ---------------------------------------------------------------------------
# Lakehouse compaction planning (small-file bin packing)
# ---------------------------------------------------------------------------

_FILE_CHUNK = 256  # orderkey-range per "file" (zonemap-audit convention)
_COMPACT_TARGET = 4096  # target rows per compacted output partition


@query(
    "q_compaction_bin_packing",
    oracle=f"""
    WITH files AS (
      SELECT l_orderkey // {_FILE_CHUNK} AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    planned AS (
      SELECT file_id, n_rows,
             (SUM(n_rows) OVER (ORDER BY file_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_rows) // {_COMPACT_TARGET} AS bin_id
      FROM files
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(MIN(file_id) AS BIGINT) AS first_file,
           CAST(MAX(file_id) AS BIGINT) AS last_file,
           CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS INT) AS needs_compaction
    FROM planned GROUP BY bin_id
    """,
    tags=("lakehouse", "maintenance", "compaction", "round8"),
)
def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLAN: lineitem rows live in
    orderkey-clustered "files" (the zonemap-audit convention at a finer
    chunk); the planner packs key-adjacent files into target-size output
    bins via the running-row-count rule bin = floor(rows_before /
    target) — the same deterministic coalescing strategy Spark's own
    file-scan packing (maxPartitionBytes) and OPTIMIZE-style bin-packing
    compactors use, preserving clustering order so zonemaps stay tight
    after the rewrite. Each bin row reports its file span, a multi-file
    bin being a compaction candidate. Entirely integer arithmetic.

    Scale shape: one groupBy collapses data-scale rows to file-grain
    metadata (~1e6 rows for a 100 TB table — metadata, not data); the
    ordered prefix-sum runs on that grain. For billion-file metastores
    the same prefix sum distributes via the two-phase rank/scan
    machinery (operators/scan.py) instead of a single ordered window.
    """
    li = tables(spark, sf_dir)["lineitem"]
    files = li.groupBy(F.expr(f"l_orderkey DIV {_FILE_CHUNK}").alias("file_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, 0)
    planned = files.withColumn("cum_rows", F.sum("n_rows").over(w)).withColumn(
        "bin_id", F.expr(f"(cum_rows - n_rows) DIV {_COMPACT_TARGET}")
    )
    return planned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("file_id").cast("bigint").alias("first_file"),
        F.max("file_id").cast("bigint").alias("last_file"),
        F.when(F.count(F.lit(1)) > 1, 1).otherwise(0).cast("int").alias("needs_compaction"),
    )


# ---------------------------------------------------------------------------
# Coordinated bottom-k sampling (minwise sketches, overlap estimation)
# ---------------------------------------------------------------------------

_BK_K = 8
_BK_SEED = 77


@query(
    "q_bottomk_coordinated_sample",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    shl AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(0, greatest(len(toks) - {SHINGLE_N}, 0) + 1),
                    i -> array_to_string(list_slice(toks, i + 1, i + {SHINGLE_N}), ' '))) AS sh
      FROM t
    ),
    h AS (
      SELECT source, sh, {_h_sql('sh', str(_BK_SEED))} AS hv FROM shl
    ),
    sk AS (  -- per-source bottom-k sketch (k smallest hashes)
      SELECT source, sh, hv
      FROM (SELECT source, sh, hv,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, sh) AS r
            FROM h)
      WHERE r <= {_BK_K}
    ),
    counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM h GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM counts a JOIN counts b ON a.source < b.source
    ),
    u AS (  -- union sketch members: distinct elements of both sketches
      SELECT p.source_a, p.source_b, s.sh, s.hv,
             MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3, 4
    ),
    ur AS (
      SELECT source_a, source_b, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                ORDER BY hv, sh) AS r
      FROM u
    ),
    est AS (
      SELECT source_a, source_b,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS est_num,
             CAST(COUNT(*) AS BIGINT) AS k_used
      FROM ur WHERE r <= {_BK_K} GROUP BY 1, 2
    ),
    inter AS (
      SELECT x.source AS source_a, y.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS j_num
      FROM h x JOIN h y ON y.sh = x.sh AND x.source < y.source
      GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b, e.k_used, e.est_num,
           COALESCE(i.j_num, 0) AS j_num,
           ca.n_sh + cb.n_sh - COALESCE(i.j_num, 0) AS j_den,
           CAST(FLOOR(1000000.0 * (CAST(e.est_num AS DOUBLE) / CAST(e.k_used AS DOUBLE)))
                AS BIGINT) AS est_q6,
           CAST(FLOOR(1000000.0 * (CAST(COALESCE(i.j_num, 0) AS DOUBLE)
                / CAST(ca.n_sh + cb.n_sh - COALESCE(i.j_num, 0) AS DOUBLE)))
                AS BIGINT) AS true_q6
    FROM est e
    LEFT JOIN inter i ON i.source_a = e.source_a AND i.source_b = e.source_b
    JOIN counts ca ON ca.source = e.source_a
    JOIN counts cb ON cb.source = e.source_b
    """,
    tags=("sampling", "sketch", "llm-data", "round8"),
)
def q_bottomk_coordinated_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated bottom-k (minwise) sampling: every source hashes its
    distinct shingles with the SAME portable hash and keeps the k=8
    smallest — because the hash is shared, the sketches are coordinated
    and the Jaccard of any source pair is estimated from sketches alone:
    est = |{bottom-k of the union} that appear in both sketches| / k
    (Broder 1997; Cohen & Kaplan 2007 bottom-k sketches). The audit
    emits the estimate NEXT TO the exact Jaccard (integer
    numerator/denominator) so sketch quality is oracle-certified, the
    q_lsh_recall_audit pattern. Differs from q_hash_sample (threshold
    Bernoulli — unbounded sample size) by being fixed-size, and from
    q_source_overlap_matrix by estimating from O(k) state per source
    rather than scanning both sides.

    Scale shape: sketch construction is one groupBy-source top-k (a
    bounded per-key heap at scale — rank window over the source
    partition here); pair estimation touches only 20*8 sketch rows.
    The exact-truth side (shingle self-join) exists purely to certify
    the estimator and is the expensive leg by design.
    """
    d = tables(spark, sf_dir)["documents"]
    toked = d.select("source", F.split(F.col("text"), " ").alias("toks"))
    shl = (
        toked.select(
            "source",
            F.explode(word_shingles_from_tokens(F.col("toks"), SHINGLE_N)).alias("sh"),
        )
        .distinct()
    )
    h = barrier(shl.select(
        "source", "sh", portable_hash64(F.col("sh"), _BK_SEED).alias("hv")
    ), "reuse")  # feeds sketch, counts, and truth join
    wsrc = Window.partitionBy("source").orderBy("hv", "sh")
    sk = (
        h.withColumn("r", F.row_number().over(wsrc))
        .filter(F.col("r") <= _BK_K)
        .drop("r")
    )
    counts = h.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    ca = counts.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    pairs = ca.join(cb, F.col("source_a") < F.col("source_b"))
    u = (
        pairs.join(
            sk,
            (sk["source"] == F.col("source_a")) | (sk["source"] == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "sh", "hv")
        .agg(
            F.max(F.when(F.col("source") == F.col("source_a"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("source") == F.col("source_b"), 1).otherwise(0)).alias("in_b"),
        )
    )
    wpair = Window.partitionBy("source_a", "source_b").orderBy("hv", "sh")
    est = (
        u.withColumn("r", F.row_number().over(wpair))
        .filter(F.col("r") <= _BK_K)
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("est_num"),
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
        )
    )
    hx = h.select(F.col("source").alias("source_a"), "sh")
    hy = h.select(F.col("source").alias("source_b"), "sh")
    inter = (
        hx.join(hy, ["sh"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("j_num"))
    )
    out = (
        est.join(inter, ["source_a", "source_b"], "left")
        .join(ca, "source_a")
        .join(cb, "source_b")
        .select(
            "source_a",
            "source_b",
            "k_used",
            "est_num",
            F.coalesce(F.col("j_num"), F.lit(0).cast("bigint")).alias("j_num"),
            (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("j_num"), F.lit(0).cast("bigint")))
            .cast("bigint")
            .alias("j_den"),
        )
    )
    return out.select(
        "source_a",
        "source_b",
        "k_used",
        "est_num",
        "j_num",
        "j_den",
        F.floor(
            F.lit(1000000.0) * (F.col("est_num").cast("double") / F.col("k_used").cast("double"))
        )
        .cast("bigint")
        .alias("est_q6"),
        F.floor(
            F.lit(1000000.0) * (F.col("j_num").cast("double") / F.col("j_den").cast("double"))
        )
        .cast("bigint")
        .alias("true_q6"),
    )


# ---------------------------------------------------------------------------
# Simplified silhouette (centroid-based) over int8-quantized embeddings
# ---------------------------------------------------------------------------


@query(
    "q_silhouette_simplified",
    oracle=f"""
    WITH {_QUANT_SQL},
    nl AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_l FROM q8 GROUP BY label),
    pts AS (
      SELECT vec_id, label, u.i AS pos, CAST(qv[u.i] AS BIGINT) AS val
      FROM q8, unnest(range(1, len(qv) + 1)) AS u(i)
    ),
    cent AS (
      SELECT label AS clabel, pos, CAST(SUM(val) AS BIGINT) AS s
      FROM pts GROUP BY 1, 2
    ),
    dist AS (
      SELECT p.vec_id, p.label, c.clabel, n.n_l,
             SUM(CAST(p.val * n.n_l - c.s AS HUGEINT)
                 * CAST(p.val * n.n_l - c.s AS HUGEINT)) AS num
      FROM pts p
      JOIN cent c ON c.pos = p.pos
      JOIN nl n ON n.label = c.clabel
      GROUP BY 1, 2, 3, 4
    ),
    dd AS (
      SELECT vec_id, label, clabel,
             CAST(num AS DOUBLE) / CAST(n_l * n_l AS DOUBLE) AS d
      FROM dist
    ),
    own AS (SELECT vec_id, label, d AS a FROM dd WHERE clabel = label),
    bmin AS (
      SELECT vec_id, MIN(d) AS b FROM dd WHERE clabel <> label GROUP BY vec_id
    ),
    nearest AS (
      SELECT dd.vec_id, MIN(dd.clabel) AS nearest_other
      FROM dd JOIN bmin ON bmin.vec_id = dd.vec_id AND dd.d = bmin.b
      WHERE dd.clabel <> dd.label
      GROUP BY dd.vec_id
    )
    SELECT o.vec_id, o.label, n.nearest_other,
           CAST(FLOOR(1000000.0 * ((bm.b - o.a) / GREATEST(o.a, bm.b))) AS BIGINT)
             AS s_q6
    FROM own o
    JOIN bmin bm ON bm.vec_id = o.vec_id
    JOIN nearest n ON n.vec_id = o.vec_id
    WHERE GREATEST(o.a, bm.b) > 0
    """,
    tags=("similarity", "clustering", "evaluation", "round8"),
)
def q_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per point over the
    int8-quantized embedding space, clusters = the fixture's label
    column: a = squared distance to the OWN cluster centroid, b = min
    squared distance to any OTHER centroid, s = (b - a)/max(a, b) — the
    O(n*k) cluster-quality metric (Hruschka et al.'s simplified
    silhouette) that replaces classic silhouette's O(n^2) pairwise term,
    i.e. the evaluation step for the q_kmeans_* tier. Exactness: with
    centroid mean S/n kept as a FRACTION, the squared distance is
    sum((x*n - S)^2)/n^2 — an exact integer numerator over an integer
    denominator, divided once into a double; min/greatest comparisons
    and the final quantized ratio are deterministic on both engines.
    The nearest-other label resolves ties by MIN(label) explicitly (no
    engine-specific arg_min semantics).

    Scale shape: centroids are one groupBy on (label, pos); the
    point-centroid distances are a broadcast-size join (k*dim rows)
    against the exploded points, partial-aggregated map-side before the
    (vec_id, clabel) rollup. No n^2 term anywhere — at 1e9 points the
    cost is n*k*dim multiply-adds, the same envelope as
    q_kmeans_assign_int8.
    """
    e = _quantized(tables(spark, sf_dir)["embeddings"])
    pts = e.select(
        "vec_id", "label", F.posexplode(F.col("qv")).alias("pos0", "val")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("bigint").alias("val"))
    nl = e.groupBy(F.col("label").alias("clabel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_l")
    )
    cent = (
        pts.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("val").cast("bigint").alias("s"))
        .join(nl, "clabel")
    )
    # The squared-distance numerator accumulates in DECIMAL(38,0), not
    # BIGINT: the diff (val*n_l - s) is bounded by 254*n_l (int8 values),
    # so its BIGINT square overflows once a cluster passes ~1.9e6 points —
    # where Spark (non-ANSI) wraps silently while DuckDB errors. DECIMAL
    # keeps the integer square exact to 1e38 (clusters to ~4e16 points);
    # the DuckDB oracle mirrors with HUGEINT (ADVICE r8).
    diff = (F.col("val") * F.col("n_l") - F.col("s")).cast("decimal(38,0)")
    dist = (
        pts.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel", "n_l")
        .agg(F.sum(diff * diff).cast("decimal(38,0)").alias("num"))
    )
    dd = barrier(dist.select(
        "vec_id",
        "label",
        "clabel",
        (F.col("num").cast("double") / (F.col("n_l") * F.col("n_l")).cast("double")).alias("d"),
    ), "reuse")  # feeds own/bmin/nearest three ways
    own = dd.filter(F.col("clabel") == F.col("label")).select("vec_id", "label", F.col("d").alias("a"))
    others = dd.filter(F.col("clabel") != F.col("label"))
    bmin = others.groupBy("vec_id").agg(F.min("d").alias("b"))
    nearest = (
        others.join(bmin, "vec_id")
        .filter(F.col("d") == F.col("b"))
        .groupBy("vec_id")
        .agg(F.min("clabel").alias("nearest_other"))
    )
    return (
        own.join(bmin, "vec_id")
        .join(nearest, "vec_id")
        .filter(F.greatest(F.col("a"), F.col("b")) > 0)
        .select(
            "vec_id",
            "label",
            "nearest_other",
            F.floor(
                F.lit(1000000.0)
                * ((F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b")))
            )
            .cast("bigint")
            .alias("s_q6"),
        )
    )
