"""Physical-plan inspection helpers.

Scale-readiness is checked in CI, not hoped for: the tests assert that
dimension joins broadcast, filters reach the parquet scan, shuffle
budgets hold, and nothing degenerates into a cartesian product or a
single-partition collapse. ``.explain`` output is the contract. These
helpers read plan TEXT: the test session builds every catalog row once
(``tests/catalog_plans.py``) and every plan check reads that text, so
no check plans a row a second time.
"""

from __future__ import annotations

import io
import re
import tempfile
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


# The fields of a formatted plan that follow process history, not the
# plan: expression ids, exchange plan ids and RDD ids count what the
# process made before, UUIDs and scratch paths name one run's files.
_PLAN_NOISE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b\w*RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
)


def normalize_plan(plan: str) -> str:
    """``plan`` with its run-to-run noise replaced by fixed symbols, so
    two builds of one plan compare equal as text."""
    plan = re.sub(re.escape(tempfile.gettempdir()) + r"[^\s,\]]*", "<tmp>", plan)
    for pattern, symbol in _PLAN_NOISE:
        plan = pattern.sub(symbol, plan)
    return plan


_KEYED_SHUFFLE = re.compile(r"Arguments: (?:hash|range)partitioning\(")


def count_shuffle_exchanges(plan: str) -> int:
    """Count KEYED shuffle-exchange nodes in a FORMATTED physical plan.

    Formatted mode names shuffle nodes bare — ``(N) Exchange`` — with
    the partitioning demoted to a separate ``Arguments:`` line, so
    matching ``Exchange hashpartitioning`` (the SIMPLE-mode spelling)
    counts zero on every formatted plan and silently turns a shuffle
    budget into a no-op. This counts the ``Arguments:`` lines instead:
    hash/range partitioning only — the data-scale shuffles a budget is
    about. Excluded by design: SinglePartition exchanges (1-row scalar
    attachments after full aggregation), BroadcastExchange (the cheap
    path budgets steer toward; its Arguments name a BroadcastMode), and
    ReusedExchange (no new shuffle). Subquery sections count — a scalar
    subquery's keyed shuffle is as real as the main plan's.
    """
    return len(_KEYED_SHUFFLE.findall(plan))


# Tree lines look like ``   +- Exchange (4)`` / ``:  +- * HashAggregate (3)``
# / ``   +- Scan parquet  (1)`` / ``+- BroadcastHashJoin Inner BuildLeft (7)``;
# capture the indent prefix (3 chars per level: "   " or ":  "), the full
# operator title (joins carry their type/build side in the tree line), and
# the node id. The optional trailing ``, Statistics(...)`` covers finalized
# AQE trees.
_TREE_NODE = re.compile(
    r"^([ :]*)([+:]- )?\*?\s?([A-Za-z][\w .#$=-]*?)\s*\((\d+)\)(?:,.*)?\s*$"
)

# Walking DOWN from a SinglePartition exchange toward the leaf:
# - SAFE nodes bound the subtree's cardinality before the collapse —
#   aggregation finals (group cardinality) and limits (literal bound);
# - TRANSPARENT nodes preserve/shrink rows without bounding them — keep
#   walking through;
# - broadcast joins: the bounded side is the broadcast build; the STREAM
#   side (printed first in formatted trees) determines cardinality, so
#   the walk follows it;
# - anything else (Scan, Generate, Expand, Union, shuffle joins, ...)
#   is a data-scale source: offender.
_SP_SAFE = frozenset(
    {
        "HashAggregate",
        "ObjectHashAggregate",
        "SortAggregate",
        "LocalLimit",
        "GlobalLimit",
        "TakeOrderedAndProject",
    }
)
_SP_TRANSPARENT = frozenset(
    {
        "Project",
        "Filter",
        "Sort",
        "Window",
        "WindowGroupLimit",
        "ColumnarToRow",
        "InputAdapter",
        "AQEShuffleRead",
        "CoalesceExec",
        "Coalesce",
        "BroadcastHashJoin",  # walk follows the STREAM side (see below)
        "BroadcastNestedLoopJoin",
        "Exchange",  # a keyed exchange below doesn't bound rows either
        "ShuffleQueryStage",
        "BroadcastQueryStage",
    }
)

# Subtree roots that mark a broadcast join's BUILD side — the bounded
# side; cardinality through the join is decided by the OTHER child.
_SP_BUILD_SIDE = frozenset(
    {"BroadcastExchange", "BroadcastQueryStage", "ReusedExchange"}
)

_REUSE_REF = re.compile(r"Reuses operator id: (\d+)")


def _tree_nodes(plan: str) -> list[tuple[int, str, str]]:
    """(depth, full-title, node-id) per tree line, in document order.
    Depth = 3 chars per level; a node's children are the depth+1 nodes
    before the next node at depth <= its own (subquery trees restart
    at depth 0, which terminates any forward scan naturally).
    Tree parsing is gated per SECTION (ADVICE r13): inside a detail
    section, a line that happens to end in a bare ``(N)`` — an
    expression id in Arguments:, a literal — would otherwise inject a
    phantom depth-0 node that truncates children() scans mid-tree (or
    shadow a real node id). Formatted layout: main tree, then its
    detail sections (``(N) Op`` headers at column 0), then
    ``===== Subqueries =====`` with each ``Subquery:K Hosting...``
    header introducing ANOTHER tree followed by its own detail
    sections — so tree-mode switches off at each detail header and
    back on at each subquery header."""
    nodes: list[tuple[int, str, str]] = []
    in_tree = True
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\) ", ln):
            in_tree = False
            continue
        if ln.startswith("Subquery:") or ln.startswith("== Physical Plan =="):
            in_tree = True
            continue
        if not in_tree:
            continue
        m = _TREE_NODE.match(ln)
        if not m:
            continue
        depth = len(m.group(1)) // 3 + (1 if m.group(2) else 0)
        nodes.append((depth, m.group(3), m.group(4)))
    return nodes


def _children(nodes: list[tuple[int, str, str]], i: int) -> list[int]:
    d = nodes[i][0]
    kids = []
    for j in range(i + 1, len(nodes)):
        if nodes[j][0] <= d:
            break
        if nodes[j][0] == d + 1:
            kids.append(j)
    return kids


def single_partition_offenders(plan: str) -> list[str]:
    """Names of data-scale operators feeding a ``SinglePartition``
    exchange — i.e. an unbounded subtree being serialized onto one
    partition (the classic global ``Window.orderBy`` regression).

    ``count_shuffle_exchanges`` deliberately ignores SinglePartition
    exchanges, so a budget alone would count such a plan as zero
    shuffles — exactly the scalability failure budgets exist to catch
    (ADVICE r11). This companion makes the gap assertable: the
    catalog-wide gate in tests/test_single_partition_guard.py reads it
    off every row's plan.

    Works on FORMATTED plans: finds each ``Exchange (N)`` tree line
    whose detail section says ``Arguments: SinglePartition``, then walks
    the exchange's OWN child chain — depth-aware, so the walk can never
    cross into an unrelated sibling subtree (ADVICE r12: the old
    flattened walk did exactly that after a leaf-like node). Broadcast
    joins follow the STREAM side (the child whose subtree root is not a
    broadcast build — correct for BuildLeft and BuildRight alike);
    ``ReusedExchange`` resolves through its ``Reuses operator id``
    reference instead of falling off the tree. The walk ends at a
    cardinality-bounding node (aggregate/limit — safe) or a data-scale
    source (scan/generate/expand — offender).
    """
    lines = plan.splitlines()
    # node ids whose detail section marks a SinglePartition exchange,
    # and each ReusedExchange's referenced operator id
    sp_ids: set[str] = set()
    reuse_ref: dict[str, str] = {}
    current_id: str | None = None
    current_name: str | None = None
    for ln in lines:
        m = re.match(r"^\((\d+)\) (\w+)", ln)
        if m:
            current_id, current_name = m.group(1), m.group(2)
            # the reuse reference sits on the header line itself:
            # ``(7) ReusedExchange [Reuses operator id: 5]``
            if current_name == "ReusedExchange" and (r := _REUSE_REF.search(ln)):
                reuse_ref[current_id] = r.group(1)
            continue
        if current_id is None:
            continue
        if current_name == "Exchange" and "Arguments:" in ln and "SinglePartition" in ln:
            sp_ids.add(current_id)
        elif current_name == "ReusedExchange" and (r := _REUSE_REF.search(ln)):
            reuse_ref[current_id] = r.group(1)
    if not sp_ids:
        return []

    nodes = [(d, title.split()[0], nid) for d, title, nid in _tree_nodes(plan)]
    by_id = {node_id: i for i, (_, _, node_id) in enumerate(nodes)}

    def children(i: int) -> list[int]:
        return _children(nodes, i)

    offenders: list[str] = []
    for idx, (_, name, node_id) in enumerate(nodes):
        if name != "Exchange" or node_id not in sp_ids:
            continue
        cur = idx
        hops = 0
        while True:
            hops += 1
            if hops > len(nodes):  # reuse-reference cycle guard
                offenders.append("<cycle>")
                break
            kids = children(cur)
            if not kids:
                offenders.append("<leaf>")
                break
            if nodes[cur][1] in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
                stream = [k for k in kids if nodes[k][1] not in _SP_BUILD_SIDE]
                child = stream[0] if stream else kids[0]
            else:
                child = kids[0]
            cname, cid = nodes[child][1], nodes[child][2]
            if cname in _SP_SAFE:
                break
            if cname == "ReusedExchange":
                ref = reuse_ref.get(cid)
                if ref is not None and ref in by_id:
                    cur = by_id[ref]
                    continue
                offenders.append(cname)  # unresolvable reuse: conservative
                break
            if cname in _SP_TRANSPARENT:
                cur = child
                continue
            offenders.append(cname)
            break
    return offenders


# Python-eval nodes: each is an Arrow crossing whose throughput is
# bounded by the partition count of its INPUT. (BatchEvalPython is
# banned outright by the Arrow gate; it is listed so a violation there
# is reported as a narrow lane too, not silently skipped here.)
_PY_NODES = frozenset(
    {
        "ArrowEvalPython",
        "MapInPandas",
        "PythonMapInArrow",
        "MapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "WindowInPandas",
        "BatchEvalPython",
    }
)

# Subtree roots that prove the Python node's input is (or inherits) a
# cluster-width distribution: any exchange (keyed, round-robin, or an
# AQE stage), a cached or barrier-cut RDD (inherits its producer's
# width; the producer's own plan is gated separately, since the catalog
# sweep records every barrier plan), or a Range (splits into
# defaultParallelism slices by construction).
_PY_WIDE_PREFIXES = (
    "Exchange",
    "ShuffleQueryStage",
    "AQEShuffleRead",
    "ReusedExchange",
    "BroadcastExchange",  # only reachable on a build side; bounded anyway
    "InMemoryTableScan",
    "Scan ExistingRDD",
    "Range",
)


def python_lane_offenders(plan: str) -> list[str]:
    """Python-eval nodes whose input chain reaches a FILE SCAN with no
    exchange in between — i.e. an Arrow lane whose parallelism is
    whatever the file split produced. On this repo's single-file,
    single-row-group fixtures that is ONE task, serializing every
    pandas_udf/mapInPandas crossing onto one core (the r14
    q_codec_dlq_split finding: 13.6 s -> 2.5 s from fanning exactly
    this shape). At production scan widths the same plan is fine, which
    is why the gate checks the PLAN SHAPE (no exchange below the Python
    node), not a partition count: the fix — ``ranks.cpu_fanout`` — is a
    no-op on wide inputs, so a plan that passes here is right at every
    scale, and one that fails here is a latent single-core lane at
    whatever scale the scan under-splits.

    Walks the first-child (input) chain of each Python node in the
    FORMATTED plan; broadcast joins follow the stream side;
    ReusedExchange and cached/RDD scans count as wide (they inherit
    their producer's distribution). Returns one entry per narrow lane:
    ``"<PyNode> <- <leaf title>"``.

    BROADCAST BUILD SIDES ARE EXEMPT (r15, the r14 q_knn_ivf bench
    regression): a Python node whose ANCESTOR chain passes through a
    BroadcastExchange computes a build side — bounded by
    autoBroadcastJoinThreshold / an explicit broadcast hint by
    construction (an unbounded frame there fails the broadcast itself
    long before lane width matters) and collected to the driver
    regardless of how many tasks produced it. Fanning such a lane to
    cluster width adds a real shuffle + stage for zero usable
    parallelism — measured +0.5 s on q_knn_ivf's 8-row probe branch —
    so the right width there IS whatever the scan produced, and the
    gate must not push authors to fan it.
    """
    nodes = _tree_nodes(plan)

    def _under_broadcast(i: int) -> bool:
        # ancestor walk: the parent of node j is the nearest preceding
        # node one level shallower (the same depth arithmetic
        # _children uses, inverted)
        depth = nodes[i][0]
        for j in range(i - 1, -1, -1):
            if nodes[j][0] == depth - 1:
                if nodes[j][1].startswith("BroadcastExchange"):
                    return True
                depth -= 1
                if depth == 0:
                    break
        return False

    offenders: list[str] = []
    for i, (_, title, _nid) in enumerate(nodes):
        root = title.split()[0]
        if root not in _PY_NODES:
            continue
        if _under_broadcast(i):
            continue
        j = i
        narrow_leaf: str | None = None
        hops = 0
        while True:
            hops += 1
            if hops > len(nodes):
                narrow_leaf = "<cycle>"
                break
            kids = _children(nodes, j)
            if not kids:
                narrow_leaf = nodes[j][1]
                break
            if nodes[j][1].split()[0] in ("BroadcastHashJoin", "BroadcastNestedLoopJoin"):
                stream = [
                    k for k in kids if nodes[k][1].split()[0] not in _SP_BUILD_SIDE
                ]
                j = stream[0] if stream else kids[0]
            else:
                j = kids[0]
            ctitle = nodes[j][1]
            if any(ctitle.startswith(p) for p in _PY_WIDE_PREFIXES):
                narrow_leaf = None
                break
        if narrow_leaf is not None:
            offenders.append(f"{root} <- {narrow_leaf}")
    return offenders

