"""Source lints that make known performance traps unrepresentable.

VERDICT r10 found `q_pair_containment` passing an inline ``F.split()``
into ``word_shingles_from_tokens`` — the exact O(len^2)-per-row re-split
the helper's docstring forbids (judge-measured ~7x at sf0.1, growing
quadratically with document length). These greps turn the trap (and its
SQL-string sibling) into a CI failure so it can never land again.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "kafka_stream_service_spark"

# The one legitimate wrapper lives in operators/dedup.py (word_shingles,
# documented as the one-off convenience form). Everywhere else, a split()
# expression flowing into the _from_tokens helper is the O(len^2) trap.
_ALLOWED = {PKG / "operators" / "dedup.py"}

_INLINE_SPLIT = re.compile(
    r"word_shingles_from_tokens\(\s*F\.split\b", re.MULTILINE
)


def _py_sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path
    yield REPO / "__spark_entry__.py"
    yield REPO / "bench.py"


def test_no_inline_split_into_shingle_helper():
    hits = []
    for path in _py_sources():
        if path in _ALLOWED or not path.exists():
            continue
        text = path.read_text()
        for m in _INLINE_SPLIT.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(REPO)}:{line}")
    assert not hits, (
        "inline F.split() passed into word_shingles_from_tokens — the "
        "expression is re-inlined into every try_element_at (O(len^2) per "
        "row in document length). Project the token array first "
        f"(.select(F.split(...).alias('toks'))): {hits}"
    )


def test_shingle_wrapper_not_reintroduced_in_queries():
    # The r10 dead helper `_word_shingles` (queries/dedup.py) wrapped the
    # inline-split form; it was deleted in r11. Keep queries/ free of
    # local re-wrappers so the only shingle entry points are the audited
    # operators/dedup.py ones.
    offenders = []
    for path in sorted((PKG / "queries").glob("*.py")):
        for m in re.finditer(r"def\s+_?word_shingles\b", path.read_text()):
            offenders.append(str(path.relative_to(REPO)))
    assert not offenders, f"local shingle wrapper redefined: {offenders}"


# ---------------------------------------------------------------------------
# Driver-side .collect() baseline (round 12)
# ---------------------------------------------------------------------------

# Every audited .collect() site in non-test source pulls BOUNDED rows to
# the driver (partition counts, k centroids, 1-row scalar bounds, replay
# fixture sentinels) — never data-scale results. This baseline makes any
# NEW driver-side pull a conscious, reviewed act: adding one fails this
# test until the count here is raised in the same diff (with the bound
# stated in the call site's comment/docstring).
_COLLECT_BASELINE = {
    "operators/graph.py": 1,      # LPA/CC convergence flag (1 row)
    "operators/ivf.py": 2,        # Lloyd centroids (k x dim) per iteration
    "operators/ranks.py": 1,      # per-partition counts (|partitions| rows)
    "operators/scan.py": 1,       # per-partition totals (|partitions| rows)
    "queries/corpus_ops.py": 1,   # quantization scale bounds (1 row)
    "queries/mlops.py": 1,        # fold census (k rows)
    "queries/round11i.py": 3,     # k-center greedy: k pulls of ONE row each
    "queries/round12.py": 1,      # IVF refresh touched-list ids (<= k rows)
    "queries/round7j.py": 1,      # fixture time bounds (1 row)
    "queries/round7m.py": 1,      # calendar bounds (1 row)
    "queries/round9b.py": 1,      # split threshold (1 row)
    "queries/round9c.py": 2,      # LM head/tail cuts (1 row each)
    "queries/stataudit.py": 2,    # domain bounds (1 row each)
    "queries/storage_q.py": 1,    # snapshot version pin (1 row)
    "queries/streaming_replay.py": 8,  # replay fixtures: bounds/sentinels
    "bench.py": 2,                # harness: 1-row aggregate scans, timed
}


def test_collect_sites_stay_at_audited_baseline():
    found: dict[str, int] = {}
    for path in _py_sources():
        if not path.exists():
            continue
        n = path.read_text().count(".collect()")
        if n:
            try:
                rel = str(path.relative_to(PKG))
            except ValueError:
                rel = str(path.relative_to(REPO))
            found[rel] = n
    new_or_grown = {
        f: n for f, n in found.items() if n > _COLLECT_BASELINE.get(f, 0)
    }
    assert not new_or_grown, (
        f"new driver-side .collect() sites beyond the audited baseline: "
        f"{new_or_grown} — a collect must pull BOUNDED rows (partition "
        "counts, k centroids, scalars); state the bound at the site and "
        "raise _COLLECT_BASELINE in the same diff"
    )
    shrunk = {f: n for f, n in _COLLECT_BASELINE.items() if found.get(f, 0) < n}
    assert not shrunk, (
        f"stale _COLLECT_BASELINE entries (sites removed): {shrunk} — "
        "lower the baseline so it cannot mask a future addition"
    )


# ---------------------------------------------------------------------------
# Spark-side exact-percentile aggregate ban (round 15)
# ---------------------------------------------------------------------------

# Round 14 migrated every Spark-side percentile()/percentile_disc call
# site onto operators/ranks.group_exact_percentiles: the built-in is a
# TypedImperativeAggregate that buffers EVERY value of a group in one
# reducer — |corpus|/|groups| bytes on a single task when the group
# count is small (the audit shape), a guaranteed OOM at 100 TB. This
# lint freezes the migration at zero. The patterns cover the ways a
# Spark expression can reach the aggregate: the DSL attribute form
# (F.percentile / F.percentile_disc / percentile_cont) and percentile
# spelled inside an expr(...) / selectExpr(...) / spark.sql(...) string
# on one line. DuckDB ORACLE SQL strings keep using percentile_disc on
# purpose — they are the independent check, built as bare triple-quoted
# strings never passed to a Spark expression builder, so none of these
# patterns can match them. percentile_approx stays allowed: it is a
# bounded sketch, not a per-group value buffer.
_SPARK_PERCENTILE = (
    re.compile(r"F\.percentile(?:_cont|_disc)?\s*\("),
    re.compile(r"""(?:\bexpr|selectExpr|\.sql)\(\s*f?["'][^"']*percentile(?!_approx)"""),
)


def test_no_spark_side_exact_percentile_aggregates():
    hits = []
    for path in _py_sources():
        if not path.exists():
            continue
        text = path.read_text()
        for pat in _SPARK_PERCENTILE:
            for m in pat.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append(f"{path.relative_to(REPO)}:{line}")
    assert not hits, (
        "Spark-side percentile()/percentile_disc aggregate call site — the "
        "built-in buffers every value of a group in ONE reducer (OOM at "
        "scale with few groups). Use "
        "operators/ranks.py:group_exact_percentiles (bounded by the value "
        f"domain) instead: {hits}"
    )


# ---------------------------------------------------------------------------
# One replay runner
# ---------------------------------------------------------------------------

# Every streaming replay row runs its query through
# queries/streaming_replay.py:run_replay, the one place that scopes the
# shuffle width and state-store provider, starts, drains and stops the
# query, checks the micro-batch budget and stamps the stream time. A row
# that grows its own run loop again bypasses all of that (a hand-rolled
# run once left a row's stream time unstamped), so outside the runner
# these files may not drain or start a stream, nor set or unset those
# two confs (or any conf under a key that is not a literal). Other
# session pins — the registry's UTC and nanosAsLong, storage_q's pairs —
# stay allowed. The chaos tier restarts its queries through the runner
# too, so it is held to the same rule; every other test may run its own
# stream but leaves the two runner confs to the runner (an unset once
# dropped the session's RocksDB default for every later test module).
_RUNNER = (PKG / "queries" / "streaming_replay.py", "run_replay")
_RUNNER_CONF = {
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
}


def _on_write_stream(node) -> bool:
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def _runner_conf_call(node, any_key: bool) -> bool:
    """A ``conf.set``/``conf.unset`` call on a runner key or, given
    ``any_key``, on a key that is not a literal."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
        and node.args
    ):
        return False
    key = node.args[0]
    if isinstance(key, ast.Constant):
        return key.value in _RUNNER_CONF
    return any_key


def _run_step(node) -> str | None:
    """What a drain or a stream start names, or None."""
    if isinstance(node, ast.Attribute) and node.attr in (
        "processAllAvailable",
        "awaitTermination",
    ):
        return node.attr
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "start"
        and _on_write_stream(node.func.value)
    ):
        return "writeStream...start()"
    return None


def _run_loop_sites(path: Path, loops: bool = True) -> list[str]:
    """Run-loop sites outside the runner; ``loops`` False checks only
    conf calls on a literal runner key."""
    tree = ast.parse(path.read_text())
    runner = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and (path, node.name) == _RUNNER:
            runner = {id(n) for n in ast.walk(node)}
    hits = []
    for node in ast.walk(tree):
        if id(node) in runner:
            continue
        what = None
        if _runner_conf_call(node, any_key=loops):
            what = "conf set/unset of a runner-scoped or non-literal key"
        elif loops:
            what = _run_step(node)
        if what:
            hits.append(f"{path.relative_to(REPO)}:{node.lineno}: {what}")
    return hits


def test_replay_rows_run_only_through_the_runner():
    paths = sorted((PKG / "queries").glob("*.py"))
    paths.append(PKG / "streaming" / "materialize.py")
    paths.append(REPO / "tests" / "test_chaos_restart.py")
    hits = [h for path in paths for h in _run_loop_sites(path)]
    assert not hits, (
        "a replay run outside queries/streaming_replay.py:run_replay — pass "
        f"the stream (and its width, provider, mode, sink) to the runner: {hits}"
    )


def test_tests_leave_runner_conf_to_the_runner():
    paths = sorted((REPO / "tests").glob("*.py"))
    hits = [h for path in paths for h in _run_loop_sites(path, loops=False)]
    assert not hits, (
        "a test sets or unsets the shuffle width or state-store provider "
        "of the shared session — pass them to run_replay, which scopes "
        f"and restores them: {hits}"
    )


# One scale-probe tool: tools/scale_probe.py is the only writer of shard
# copies. The patterns are per-copy SELECTs glued into one scan with a
# UNION ALL join, a SQL key shift by a copy index in an f-string, and a
# frame key shift by a multiple of KEY_OFFSET.
_SHARD_BUILDER = REPO / "tools" / "scale_probe.py"
_SHARD_COPY = re.compile(
    r"UNION ALL\s*['\"]\s*\.join\("
    r"|\b\w+ \+ \{\w+\} \* \d"
    r"|\*\s*(?:\w+\.)?KEY_OFFSET\b"
)


def test_only_the_scale_probe_writes_shard_copies():
    hits = []
    for path in sorted([*(REPO / "tools").glob("*.py"), *(REPO / "tests").glob("*.py")]):
        if path == _SHARD_BUILDER:
            continue
        text = path.read_text()
        for m in _SHARD_COPY.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(REPO)}:{line}")
    assert not hits, (
        "shard copies written outside tools/scale_probe.py — build the "
        f"shards with it and time them with tools/ab_runner.py: {hits}"
    )


def _calls_spark_fn(nodes) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "spark_fn"
        for node in nodes for n in ast.walk(node)
    )


def _catalog_build_loops(path: Path) -> set[tuple[str, str]]:
    """Functions that loop over ``QUERIES`` (or over a mapping passed in
    as a parameter) and build a row's frame in the loop's body, as (file
    name, function name). A loop over a few named rows does not count."""
    found = set()
    for fn in ast.walk(ast.parse(path.read_text())):
        if not isinstance(fn, ast.FunctionDef):
            continue
        catalogs = {"QUERIES"} | {a.arg for a in (*fn.args.args, *fn.args.kwonlyargs)}
        for node in ast.walk(fn):
            if isinstance(node, ast.For):
                iters, body = [node.iter], node.body
            elif isinstance(node, (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)):
                iters = [g.iter for g in node.generators]
                body = [c for c in ast.iter_child_nodes(node)
                        if not isinstance(c, ast.comprehension)]
            else:
                continue
            names = {n.id for it in iters for n in ast.walk(it) if isinstance(n, ast.Name)}
            if names & catalogs and _calls_spark_fn(body):
                found.add((path.name, fn.name))
    return found


def test_one_test_helper_builds_the_catalog():
    found = set().union(*(_catalog_build_loops(p) for p in sorted((REPO / "tests").glob("*.py"))))
    assert found == {("catalog_plans.py", "build_rows")}, (
        "build catalog rows in a loop only in tests/catalog_plans.py:build_rows, "
        f"and read its session-wide sweep (the catalog_sweep fixture): {sorted(found)}"
    )


# One plan table: a per-row plan check reads the plan the session's
# catalog sweep built (``catalog_sweep[name].plan``). A test plans a
# registered row itself only when the plan depends on a stored artifact
# it builds first; each such test is named here with that artifact.
_OWN_PLAN_BUILD = {
    ("test_pair_index.py", "test_delta_probe_reads_stored_buckets"): "BUCKET_INDEX",
    ("test_round11.py", "test_delta_probe_reads_stored_index"): "SEM_INDEX",
    ("test_round11_plans.py", "test_ivf_stored_reads_index_and_broadcasts_probes"): "SEM_INDEX",
    ("test_round11_plans.py", "test_rouge2_reads_pair_snapshot"): "PAIR_INDEX",
    ("test_round11_plans.py", "test_bm25_serving_reads_stored_postings"): "TEXT_INDEX",
    ("test_round11_plans.py", "test_text_index_delta_reads_stored_base"): "TEXT_BASE_INDEX",
    ("test_round11_plans.py", "test_bm25_after_refresh_reads_base_with_pushed_terms"):
        "TEXT_BASE_INDEX",
    ("test_round12.py", "test_ivf_refresh_reads_stored_base_index"): "IVF_BASE_INDEX",
    ("test_round12.py", "test_ivf_refresh_census_read_is_zone_map_pruned"): "IVF_BASE_INDEX",
}
_PLAN_READERS = {"physical_plan", "count_shuffle_exchanges"}


def _is_row_build(node) -> bool:
    """``QUERIES[...].spark_fn(...)``"""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "spark_fn"
        and isinstance(node.func.value, ast.Subscript)
        and isinstance(node.func.value.value, ast.Name)
        and node.func.value.value.id == "QUERIES"
    )


def _row_plan_sites(path: Path) -> set[tuple[str, str]]:
    """Test functions that hand a registered row's frame, built in the
    test, to a plan reader or a plan assert."""
    found = set()
    for fn in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(fn, ast.FunctionDef) and fn.name.startswith("test_")):
            continue
        frames = {
            t.id
            for node in ast.walk(fn) if isinstance(node, ast.Assign)
            and any(_is_row_build(n) for n in ast.walk(node.value))
            for t in node.targets if isinstance(t, ast.Name)
        }
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name not in _PLAN_READERS and not name.startswith("assert_"):
                continue
            if any(_is_row_build(n) or (isinstance(n, ast.Name) and n.id in frames)
                   for a in node.args for n in ast.walk(a)):
                found.add((path.name, fn.name))
    return found


def test_row_plans_are_read_from_the_catalog_sweep():
    found = set().union(*(_row_plan_sites(p) for p in sorted((REPO / "tests").glob("test_*.py"))))
    assert found == set(_OWN_PLAN_BUILD), (
        "read a registered row's plan from the catalog_sweep fixture "
        "(catalog_sweep[name].plan) instead of building the row again; a "
        "test whose plan needs a stored artifact built first goes in "
        f"_OWN_PLAN_BUILD. Unlisted: {sorted(found - set(_OWN_PLAN_BUILD))}; "
        f"stale: {sorted(set(_OWN_PLAN_BUILD) - found)}"
    )


# ---------------------------------------------------------------------------
# One lane widener
# ---------------------------------------------------------------------------

# A scan-rooted CPU lane widens through operators/ranks.cpu_fanout, which
# sizes from the plan's own estimate: a literal width is a ceiling at
# scale and the wrong width on any other cluster. Each literal left is a
# count that is not a scan-rooted lane width, named here with its reason.
_LITERAL_REPARTITIONS = {
    ("queries/round7f.py", 16): "q_theil_sen_slope fans a post-aggregate "
        "day series that AQE coalesces to one partition; cpu_fanout sizes "
        "from the scan and would pass it through at scale",
    ("queries/streaming_replay.py", 4): "segment files per landed half "
        "of the wiredump fixture: an output file count",
    ("queries/streaming_replay.py", 8): "output segments per epoch of the "
        "streaming wiredump sink: an output file count",
    ("queries/storage_q.py", 4): "the wiredump writer's four-segment "
        "contract that n_segments pins: an output file count",
}
_SIZE_ESTIMATE = ("operators/ranks.py", "_scan_splits")


def _readers(tree, attr: str) -> set[str]:
    """Names of the innermost functions that read ``.attr`` ("<module>"
    for a read outside any function)."""
    found = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr == attr:
                found.add(fn)
            visit(child, fn)

    visit(tree, "<module>")
    return found


def _widener_sites():
    """(literal repartition sites, inputFiles() readers, sizeInBytes
    readers), each keyed by path relative to the package."""
    literals, input_files, size_reads = [], set(), set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        input_files |= {(rel, fn) for fn in _readers(tree, "inputFiles")}
        size_reads |= {(rel, fn) for fn in _readers(tree, "sizeInBytes")}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, int)
            ):
                literals.append((rel, node.args[0].value))
    return literals, input_files, size_reads


def test_cpu_lanes_widen_only_through_cpu_fanout():
    literals, input_files, size_reads = _widener_sites()
    problems = []
    if sorted(literals) != sorted(_LITERAL_REPARTITIONS):
        problems.append(
            "a literal repartition width outside the allowlist, each entry "
            "once (widen a scan-rooted CPU lane with "
            f"operators.ranks.cpu_fanout): found {sorted(literals)}"
        )
    if input_files:
        problems.append(
            "inputFiles() sizes a lane by file count; use cpu_fanout's "
            f"plan estimate: {sorted(input_files)}"
        )
    if size_reads != {_SIZE_ESTIMATE}:
        problems.append(
            "read Catalyst's sizeInBytes only in operators/ranks.py:"
            f"_scan_splits: {sorted(size_reads)}"
        )
    assert not problems, "; ".join(problems)


# ---------------------------------------------------------------------------
# One materialization barrier
# ---------------------------------------------------------------------------

# Every plan cut goes through plans/barrier.py:barrier, which names its
# reason from a closed set and lets the catalog sweep record the plan it
# cuts. A bare localCheckpoint hides its subtree from every plan gate;
# a reason that is not a literal cannot be read off the source.
_BARRIER = (Path("plans") / "barrier.py", "barrier")


def _barrier_sites(pkg: Path, reasons) -> list[str]:
    """Bare ``.localCheckpoint(`` calls outside the helper, and
    ``barrier(...)`` calls whose reason is not a literal from
    ``reasons``, under the package at ``pkg``."""
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        tree = ast.parse(path.read_text())
        helper = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and (rel, node.name) == _BARRIER:
                helper = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name == "localCheckpoint" and id(node) not in helper:
                hits.append(f"{rel}:{node.lineno}: bare localCheckpoint")
            elif name == "barrier":
                reason = node.args[1] if len(node.args) > 1 else next(
                    (k.value for k in node.keywords if k.arg == "reason"), None)
                if not (isinstance(reason, ast.Constant) and reason.value in reasons):
                    hits.append(f"{rel}:{node.lineno}: barrier reason not a literal "
                                f"from {sorted(reasons)}")
    return hits


def test_plan_cuts_go_through_the_barrier():
    from kafka_stream_service_spark.plans.barrier import REASONS

    hits = _barrier_sites(PKG, REASONS)
    assert not hits, (
        "cut a plan with plans.barrier.barrier(df, <reason literal>), so the "
        f"reason is stated and the catalog sweep sees the cut plan: {hits}"
    )


# ---------------------------------------------------------------------------
# One stored-artifact module
# ---------------------------------------------------------------------------

# A stored index is a StoredIndex declaration; queries/stored.py owns its
# path, its publish and its read-back. Retention lists artifact families,
# and q_snapshot_gc_census builds a demo family to certify it. Nothing
# else makes a snapshot path, publishes one or reads a commit marker, so
# a new artifact cannot grow a second publish path.
_STORED_OWNERS = {
    (Path("queries") / "stored.py", None),
    (Path("operators") / "retention.py", None),
    (Path("queries") / "round12.py", "q_snapshot_gc_census"),
}
_STORED_CALLS = {"snapshot_dir", "publish_atomic"}


def _stored_sites(pkg: Path) -> list[str]:
    """Calls of ``snapshot_dir``/``publish_atomic`` and ``"_SUCCESS"``
    literals outside the owners, under the package at ``pkg``."""
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        if (rel, None) in _STORED_OWNERS:
            continue
        tree = ast.parse(path.read_text())
        owned = {
            id(n)
            for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef) and (rel, node.name) in _STORED_OWNERS
            for n in ast.walk(node)
        }
        for node in ast.walk(tree):
            if id(node) in owned:
                continue
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
                if name in _STORED_CALLS:
                    hits.append(f"{rel}:{node.lineno}: {name}(")
            elif isinstance(node, ast.Constant) and node.value == "_SUCCESS":
                hits.append(f"{rel}:{node.lineno}: reads _SUCCESS")
    return hits


def test_stored_artifacts_go_through_the_stored_module():
    hits = _stored_sites(PKG)
    assert not hits, (
        "declare a stored index with queries.stored.StoredIndex and read it "
        f"with .read(spark, sf_dir); its path, publish and marker are the module's: {hits}"
    )
