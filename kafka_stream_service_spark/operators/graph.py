"""Connected components over an edge list (small-diameter graphs).

Used to turn near-duplicate PAIRS (MinHash/LSH output) into duplicate
CLUSTERS: each component keeps one canonical document.

Algorithm: iterative min-label propagation — every node adopts the
smallest id reachable in one hop; repeat until fixpoint (or max_iter).
Each iteration is one shuffle (groupBy node). For dedup graphs the
diameter is tiny (chains of near-dups), so 5-10 iterations close almost
any real component; the iteration count is the explicit scale knob, and
convergence is detected via the monotone label-sum fingerprint (one
small aggregate per iteration — no join against the previous labels).

This is the standard large-scale approach (cf. connected components over
MapReduce / "hash-to-min"), not a driver-side union-find — no state ever
leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.barrier import barrier


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Returns (node, component) where component = min node id of the
    component (deterministic canonical label).

    ``edges`` is undirected input as (src, dst) pairs (any orientation).
    """
    # Materialize the edge list ONCE before anything fans out over it.
    # The symmetric closure below reads it 4 times, and Spark does not
    # dedupe common subtrees — without this, an expensive upstream (the
    # MinHash->LSH->Jaccard pipeline in the dedup flow) would re-execute
    # per branch. localCheckpoint also truncates the incoming lineage so
    # the iteration plans start from a materialized scan.
    e0 = barrier(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")), "reuse", eager=True)

    # symmetric closure + self-loops => neighborhood includes the node
    sym = (
        e0.union(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(e0.select("a", F.col("a").alias("b")))
        .union(e0.select(F.col("b").alias("a"), "b"))
        .distinct()
        .persist()  # read every iteration (join side) — compute once
    )
    labels = (
        sym.groupBy("a").agg(F.min("b").alias("comp")).withColumnRenamed("a", "node").persist()
    )

    # Iterative lineage discipline: each iteration's labels are persisted
    # (the changed-count action and the next join both read them — without
    # this every action recomputes the whole chain-so-far), the previous
    # generation is unpersisted, and the lineage is truncated with
    # localCheckpoint every few iterations so the plan stays O(1) instead
    # of growing per iteration (planner blowup / stack overflow on real
    # clusters at 10+ iterations).
    # Convergence check: labels only ever DECREASE (min-propagation is
    # monotone), so the label-sum is a strictly decreasing fingerprint
    # until fixpoint — one tiny aggregate per iteration on the already-
    # persisted frame, instead of a join-against-previous + count job.
    # decimal(38,0) so the sum can't overflow at cluster-scale node counts.
    def _fingerprint(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

    fp = _fingerprint(labels)
    try:
        for i in range(max_iter):
            # propagate: node's new label = min(own label, neighbors' labels)
            neigh = sym.join(labels, sym.b == labels.node).select(
                F.col("a").alias("node"), F.col("comp")
            )
            new_labels = neigh.groupBy("node").agg(F.min("comp").alias("comp"))
            if (i + 1) % 5 == 0:
                new_labels = barrier(new_labels, "iterate", eager=True)
            else:
                new_labels = new_labels.persist()
            new_fp = _fingerprint(new_labels)
            labels.unpersist()
            labels = new_labels
            if new_fp == fp:
                break
            fp = new_fp
    finally:
        sym.unpersist()
    return labels


def integer_pagerank(
    edges: DataFrame,
    u: str = "u",
    v: str = "v",
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over an UNDIRECTED edge list in fixed-point INTEGER
    arithmetic — bit-reproducible across engines and partitionings.

    Float PageRank sums contributions in nondeterministic partition
    order, so two runs (or two engines) disagree in the last ulps. This
    variant keeps every rank an integer: a node's contribution is
    ``(rank * damping_pct) DIV (100 * degree)`` (one floor division,
    computed identically everywhere), and the update is an integer SUM —
    associative and order-free — plus the constant teleport term
    ``(100 - damping_pct) * scale DIV 100``. The result is not classic
    PageRank to the last decimal (floor truncation loses < 1 unit per
    neighbor) but a deterministic fixed-point of the same recurrence,
    suitable for ranking and — the point here — for exact cross-engine
    verification of an ITERATIVE distributed computation.

    Each iteration is two shuffles (contribution groupBy target, rank
    join); lineage is truncated per iteration with localCheckpoint,
    the same discipline as connected_components above. At 100 TB the
    edge list is hash-partitioned by source and the rank vector by node
    id — the standard Pregel-style layout.
    """
    adj = barrier(
        edges.select(F.col(u).alias("src"), F.col(v).alias("dst"))
        .union(edges.select(F.col(v).alias("src"), F.col(u).alias("dst"))),
        "reuse",
    )
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # checkpointed: every iteration joins `nodes` (and the final ranks
    # derive from it) — without the barrier the degree groupBy re-runs
    # once per iteration per consumer
    nodes = barrier(deg.select(F.col("src").alias("id"), "deg"), "reuse")
    teleport = (100 - damping_pct) * scale // 100
    ranks = nodes.select("id", "deg", F.lit(scale).cast("bigint").alias("rank"))
    for _ in range(iterations):
        contrib = (
            adj.join(ranks, adj["src"] == ranks["id"])
            .select(
                "dst",
                F.expr(f"(rank * {damping_pct}) DIV (100 * deg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = barrier(
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                "id",
                "deg",
                (F.lit(teleport) + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("bigint")
                .alias("rank"),
            ),
            "iterate",
        )
    return ranks


def oriented_triangles(edges: DataFrame) -> DataFrame:
    """Triangle enumeration with DEGREE-BASED EDGE ORIENTATION — the
    skew-safe form of the ordered-edge algorithm, for arbitrary external
    edge lists.

    ``edges`` is an undirected, deduplicated edge list with columns
    ``u < v``. The plain u<v ordered-edge join (q_triangle_candidates)
    pivots every wedge on the lowest-ID vertex, so a low-ID hub of
    degree d contributes d^2 join candidates — a power-law graph makes
    one reducer quadratic. Orienting each edge from its lower to its
    higher endpoint in the total order (degree, id) instead pivots every
    wedge on its LOWEST-DEGREE vertex: every vertex's out-degree is then
    at most O(sqrt(|E|)) (a vertex with out-degree k has k neighbors of
    degree >= its own, so deg >= k appears in >= k*k/2 edge endpoints),
    which bounds per-vertex wedge fan-out by |E| regardless of skew —
    the standard MapReduce-triangles refinement (Suri & Vassilvitskii,
    WWW'11 "Counting Triangles and the Curse of the Last Reducer").

    Each triangle has exactly one orientation-minimal vertex, so it is
    emitted exactly once; output is canonicalized to doc_a < doc_b <
    doc_c by vertex id, identical to the unoriented enumeration (the
    query twin hash-verifies this equivalence against the naive oracle).

    Scale shape: one degree agg, one broadcast-or-shuffle join to attach
    degrees, then the wedge self-join and the closing edge join — all
    hash-partitioned on vertex ids, with the skew bound above capping
    any single key's fan-out.
    """
    und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("db"))
    # directed x->y iff (deg_x, x) < (deg_y, y); each undirected edge
    # survives exactly once
    directed = barrier(
        und.join(da, "a")
        .join(db, "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b", "db"),
        "reuse",  # feeds the wedge join twice + closer
    )
    # wedges pivoting at a: (a->x, a->y) with x before y in orientation
    # order, so each unordered neighbor pair appears once
    ex = directed.select("a", F.col("b").alias("x"), F.col("db").alias("dx"))
    ey = directed.select("a", F.col("b").alias("y"), F.col("db").alias("dy"))
    wedges = ex.join(ey, "a").filter(
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    closer = directed.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closer, ["x", "y"])
    verts = F.array_sort(F.array(F.col("a"), F.col("x"), F.col("y")))
    return tri.select(
        verts.getItem(0).alias("doc_a"),
        verts.getItem(1).alias("doc_b"),
        verts.getItem(2).alias("doc_c"),
    )
