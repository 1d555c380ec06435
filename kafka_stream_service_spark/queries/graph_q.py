"""Graph analytics over the dedup-candidate graph: triangle enumeration
and integer-exact PageRank.

The near-dup family (operators/dedup.py, operators/graph.py) already
builds candidate PAIRS and connected components; these queries add the
next structures up — triangles (the strongest cluster signal short of
clique mining, and the classic distributed-graph benchmark op) and an
iterative rank propagation whose fixed-point INTEGER arithmetic makes a
normally float-fuzzy iterative algorithm hash-checkable across engines.

Graph construction is the same rare-shingle blocking the LSH stack uses:
documents are linked when they share a 4-token shingle whose document
frequency is small (2..4) — frequent shingles are background vocabulary,
not similarity evidence, and dropping them is exactly the hot-bucket cap
of the LSH path re-expressed as a DF band.

Scale shape (100 TB): pairs-per-shingle is bounded by DF_max^2 = 16, so
the edge list grows linearly with corpus size, never quadratically. The
triangle joins use the canonical ordered-edge algorithm (u < v < w):
each triangle is produced exactly once, and the equi-joins
hash-partition on vertex ids. For skewed degree distributions the
standard refinement is degree-based orientation (point each edge from
low to high degree), which bounds the join fan-out by sqrt(|E|); the
DF cap already enforces a stronger bound here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import integer_pagerank
from ..operators.ranks import cpu_fanout
from ..plans.barrier import barrier
from ..tables import tables
from .registry import query

SHINGLE_N = 4
RARE_DF_MIN = 2
RARE_DF_MAX = 4

PR_ITERATIONS = 3
PR_SCALE = 1_000_000
PR_DAMPING_PCT = 85

# shared oracle prefix: the rare-shingle candidate edge list (u < v)
_EDGES_CTE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - {SHINGLE_N} + 1, 0)),
                                   i -> array_to_string(list_slice(toks, i + 1, i + {SHINGLE_N}), ' '))) AS g
      FROM t
    ),
    rare AS (
      SELECT g FROM sh GROUP BY g
      HAVING COUNT(*) BETWEEN {RARE_DF_MIN} AND {RARE_DF_MAX}
    ),
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN rare USING (g) JOIN sh b USING (g)
      WHERE a.doc_id < b.doc_id
    )"""


def _candidate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-shingle candidate edges (u < v), lineage-truncated: the
    shingle explode feeds three consumers (DF agg + both sides of the
    pair join) and the edge list fans out again downstream — checkpoint
    each tier once. `cpu_fanout` fans the scan across cores when the
    plan's size estimate under-splits the cluster (a no-op on many-split
    inputs at scale)."""
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    # token array materialized in its own projection (decontaminate's
    # O(len^2) inline-split trap — the lambda would re-split per position)
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    sh = barrier(
        t.filter(F.size("w") >= SHINGLE_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - SHINGLE_N),
                    lambda i: F.array_join(F.slice(F.col("w"), i + 1, SHINGLE_N), " "),
                )
            ).alias("g"),
        )
        .distinct(),
        "reuse",
    )
    rare = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
        (F.col("df") >= RARE_DF_MIN) & (F.col("df") <= RARE_DF_MAX)
    )
    cand = sh.join(rare.select("g"), "g")
    return barrier(
        cand.alias("a")
        .join(cand.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("u"), F.col("b.doc_id").alias("v"))
        .distinct(),
        "reuse",
    )


@query(
    "q_triangle_candidates",
    oracle=_EDGES_CTE
    + """
    SELECT e1.u AS doc_a, e1.v AS doc_b, e2.v AS doc_c
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
    tags=("graph", "dedup", "llm-data"),
)
def q_triangle_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enumerate triangles in the rare-shingle candidate graph: triples of
    documents that are pairwise near-dup candidates (each pair shares a
    rare 4-gram). Ordered-edge algorithm — every triangle emitted exactly
    once as (doc_a < doc_b < doc_c)."""
    edges = _candidate_edges(spark, sf_dir)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")))
        .select(
            F.col("e1.u").alias("doc_a"),
            F.col("e1.v").alias("doc_b"),
            F.col("e2.v").alias("doc_c"),
        )
    )


def _pagerank_oracle() -> str:
    """Unrolled integer-PageRank iterations as chained CTEs — the oracle
    for an ITERATIVE algorithm, possible only because every update is
    integer floor-division + order-free integer sums."""
    teleport = (100 - PR_DAMPING_PCT) * PR_SCALE // 100
    sql = _EDGES_CTE + f""",
    adj AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
    r0 AS (SELECT src AS id, deg, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg)"""
    for k in range(PR_ITERATIONS):
        sql += f""",
    c{k} AS (
      SELECT a.dst, SUM((r.rank * {PR_DAMPING_PCT}) // (100 * r.deg)) AS inflow
      FROM adj a JOIN r{k} r ON a.src = r.id GROUP BY a.dst
    ),
    r{k + 1} AS (
      SELECT p.id, p.deg,
             CAST({teleport} + COALESCE(c{k}.inflow, 0) AS BIGINT) AS rank
      FROM r{k} p LEFT JOIN c{k} ON c{k}.dst = p.id
    )"""
    sql += f"""
    SELECT id AS doc_id, CAST(deg AS BIGINT) AS degree, rank
    FROM r{PR_ITERATIONS}
    """
    return sql


@query(
    "q_pagerank_candidates",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative", "llm-data"),
)
def q_pagerank_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (3 iterations, damping 0.85, fixed-point
    scale 1e6) over the rare-shingle candidate graph — a genuinely
    ITERATIVE distributed computation with a hard driver verdict: floor
    divisions and integer sums make every rank bit-reproducible, so the
    unrolled-CTE oracle must match exactly. High-rank documents sit in
    dense near-dup neighborhoods (the cluster centers worth human review
    in a dedup pipeline)."""
    edges = _candidate_edges(spark, sf_dir)
    ranks = integer_pagerank(
        edges,
        iterations=PR_ITERATIONS,
        scale=PR_SCALE,
        damping_pct=PR_DAMPING_PCT,
    )
    return ranks.select(
        F.col("id").alias("doc_id"),
        F.col("deg").cast("bigint").alias("degree"),
        "rank",
    )


SPLIT_CUTOFF = "cccd"  # md5-prefix split: < cccd => train (~80%), else test


@query(
    "q_split_leakage",
    oracle=_EDGES_CTE
    + f""",
    split AS (
      SELECT doc_id,
             CASE WHEN substr(md5(text), 1, 4) < '{SPLIT_CUTOFF}'
                  THEN 'train' ELSE 'test' END AS part
      FROM documents
    )
    SELECT CASE WHEN su.part = 'train' THEN e.u ELSE e.v END AS train_doc,
           CASE WHEN su.part = 'train' THEN e.v ELSE e.u END AS test_doc
    FROM e
    JOIN split su ON su.doc_id = e.u
    JOIN split sv ON sv.doc_id = e.v
    WHERE su.part != sv.part
    """,
    tags=("graph", "training", "decontamination", "llm-data"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit: split the corpus deterministically by
    content hash (~80/20, the resumable-pipeline split q_hash_sample
    uses), then surface every near-dup candidate pair (rare-shingle
    edge) that CROSSES the split — documents whose near-duplicate sits
    on the other side leak evaluation signal into training. The
    decontamination check (q_decontaminate_ngram) guards against known
    benchmarks; this guards against self-contamination. One extra
    broadcast-sized join over the edge list."""
    d = tables(spark, sf_dir)["documents"]
    edges = _candidate_edges(spark, sf_dir)
    split = d.select(
        "doc_id",
        F.when(F.substring(F.md5(F.col("text")), 1, 4) < SPLIT_CUTOFF, "train")
        .otherwise("test")
        .alias("part"),
    )
    su = split.alias("su")
    sv = split.alias("sv")
    e = edges.alias("e")
    crossed = (
        e.join(su, F.col("e.u") == F.col("su.doc_id"))
        .join(sv, F.col("e.v") == F.col("sv.doc_id"))
        .filter(F.col("su.part") != F.col("sv.part"))
    )
    return crossed.select(
        F.when(F.col("su.part") == "train", F.col("e.u")).otherwise(F.col("e.v")).alias("train_doc"),
        F.when(F.col("su.part") == "train", F.col("e.v")).otherwise(F.col("e.u")).alias("test_doc"),
    )


@query(
    "q_triangle_oriented",
    oracle=_EDGES_CTE
    + """
    SELECT e1.u AS doc_a, e1.v AS doc_b, e2.v AS doc_c
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
    """,
    tags=("graph", "dedup", "skew", "llm-data"),
)
def q_triangle_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration via DEGREE-ORIENTED wedges
    (operators/graph.py:oriented_triangles) — the skew-safe algorithm
    for arbitrary external edge lists, hash-verified here to enumerate
    EXACTLY the same triangle set as the naive ordered-edge oracle.

    Why a second triangle query: q_triangle_candidates pivots wedges on
    the lowest-ID vertex, which is quadratic in the degree of an
    unlucky low-ID hub; this one pivots on the lowest-DEGREE vertex,
    bounding every pivot's fan-out by O(sqrt(|E|)) (Suri &
    Vassilvitskii, WWW'11) — the form you hand a power-law web or
    citation graph at 100 TB. The rare-shingle DF cap makes both safe
    on THIS graph; the driver hash proves the orientation preserves the
    enumeration, and the skewed-graph pytest
    (tests/test_graph_orientation.py) proves the fan-out bound where it
    matters.
    """
    from ..operators.graph import oriented_triangles

    return oriented_triangles(_candidate_edges(spark, sf_dir))


KCORE_K = 2
KCORE_ITERS = 3


def _kcore_oracle() -> str:
    """Unrolled peeling iterations as chained CTEs — same verification
    strategy as the integer-PageRank oracle: a fixed iteration count
    makes an iterative algorithm a deterministic, hash-checkable
    function of the input."""
    sql = _EDGES_CTE + """,
    adj0 AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e)"""
    for i in range(KCORE_ITERS):
        sql += f""",
    deg{i} AS (SELECT a, COUNT(*) AS d FROM adj{i} GROUP BY a),
    keep{i} AS (SELECT a FROM deg{i} WHERE d >= {KCORE_K}),
    adj{i + 1} AS (
      SELECT adj{i}.a, adj{i}.b FROM adj{i}
      JOIN keep{i} ka ON ka.a = adj{i}.a
      JOIN keep{i} kb ON kb.a = adj{i}.b
    )"""
    sql += f"""
    SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM adj{KCORE_ITERS} GROUP BY a
    """
    return sql


@query(
    "q_kcore_decomposition",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "dedup", "llm-data"),
)
def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE peeling (k=2, 3 unrolled iterations) over the rare-shingle
    candidate graph: repeatedly delete vertices with degree < k; what
    survives is the densely-interlinked near-dup core — a stronger
    cluster-quality signal than connected components (which chain
    through weak 1-edge bridges) and the standard preprocessing cut for
    community detection. Fixed iteration count makes the iterative
    peel a deterministic function of the input, so the unrolled-CTE
    oracle hash-checks every surviving vertex and its in-core degree.

    Scale shape: each iteration is one degree aggregation plus two
    semi-join-shaped edge filters, all hash-partitioned on vertex ids —
    the same per-iteration cost envelope as label propagation. Edges
    shrink monotonically, so later iterations are cheaper; at 100 TB
    the loop runs to fixpoint with the same convergence-fingerprint
    trick connected_components uses (here: edge count is monotone
    non-increasing, equal counts == fixpoint). Peeled edge frames are
    lineage-truncated per generation like the other iterative ops.
    """
    edges = _candidate_edges(spark, sf_dir)
    adj = barrier(edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ), "reuse")
    for _ in range(KCORE_ITERS):
        deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= KCORE_K).select("a")
        adj = barrier(
            adj.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi"),
            "iterate",
        )
    return adj.groupBy("a").agg(F.count(F.lit(1)).alias("core_degree")).select(
        F.col("a").alias("doc_id"), F.col("core_degree").cast("bigint").alias("core_degree")
    )


@query(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT p_partkey AS k, p_name AS name, p_brand AS brand
      FROM part WHERE p_partkey < 400
    ),
    edges AS (
      SELECT a.k AS ka, b.k AS kb
      FROM nodes a JOIN nodes b
        ON a.brand = b.brand AND a.k < b.k
       AND levenshtein(a.name, b.name) <= 4
    ),
    sym AS (
      SELECT ka AS a, kb AS b FROM edges
      UNION SELECT kb, ka FROM edges
      UNION SELECT k, k FROM nodes
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (SELECT a AS k, MIN(b) AS cluster FROM reach GROUP BY a),
    sizes AS (SELECT cluster, COUNT(*) AS n_members FROM comp GROUP BY cluster)
    SELECT comp.k AS p_partkey, comp.cluster,
           canon.name AS canonical_name,
           CAST(sizes.n_members AS BIGINT) AS n_members
    FROM comp
    JOIN nodes canon ON canon.k = comp.cluster
    JOIN sizes USING (cluster)
    """,
    tags=("graph", "entity-resolution", "dedup", "llm-data"),
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocking (brand) -> pairwise edit
    distance (levenshtein <= 4) -> connected components -> canonical
    representative per cluster (the min-key record's name) + cluster
    size. The full record-linkage pipeline in one operator, on the same
    distributed min-label engine as the near-dup clusters
    (operators/graph.py) — here driven by STRING similarity instead of
    shingle hashes. The oracle recomputes everything, closure included
    (recursive CTE), so a missed edge, an over-merged block, or a wrong
    canonical pick flips the hash.

    Scale shape: blocking bounds the candidate pairs to brand-sized
    groups (never all-pairs — the same discipline as the PPJoin and LSH
    families; levenshtein runs JVM-side per pair); components are the
    iterative broadcast-free min-label fixpoint; canonical names arrive
    by joining the dimension back on the cluster label.
    """
    from ..operators.graph import connected_components

    p = tables(spark, sf_dir)["part"].filter(F.col("p_partkey") < 400)
    nodes = p.select(
        F.col("p_partkey").alias("k"), F.col("p_name").alias("name"), "p_brand"
    )
    a = nodes.select(
        F.col("k").alias("ka"), F.col("name").alias("na"), "p_brand"
    )
    b = nodes.select(
        F.col("k").alias("kb"), F.col("name").alias("nb"),
        F.col("p_brand").alias("brand_b"),
    )
    edges = a.join(
        b, (F.col("p_brand") == F.col("brand_b")) & (F.col("ka") < F.col("kb"))
    ).filter(F.levenshtein("na", "nb") <= 4)
    # isolated nodes must survive as singleton clusters
    self_edges = nodes.select(F.col("k").alias("src"), F.col("k").alias("dst"))
    cc = connected_components(
        edges.select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
        .unionByName(self_edges),
        max_iter=30,
    )
    comp = cc.select(F.col("node").alias("p_partkey"), F.col("comp").alias("cluster"))
    sizes = comp.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    canon = nodes.select(
        F.col("k").alias("cluster"), F.col("name").alias("canonical_name")
    )
    return (
        comp.join(F.broadcast(canon), "cluster")
        .join(F.broadcast(sizes), "cluster")
        .select("p_partkey", "cluster", "canonical_name", "n_members")
    )
