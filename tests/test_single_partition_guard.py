"""SinglePartition-exchange companion guard (ADVICE r11).

``count_shuffle_exchanges`` counts only keyed (hash/range) shuffles, so a
plan that collapses a data-scale subtree onto ONE partition — the classic
un-partitioned ``Window.orderBy`` regression — would score zero against
every shuffle budget while being the worst possible plan at scale. The
``single_partition_offenders`` companion flags exactly that shape; these
tests pin its behavior on both the pathological and the legitimate uses
of SinglePartition.
"""

from __future__ import annotations

import catalog_plans
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_stream_service_spark.plans import (
    count_shuffle_exchanges,
    physical_plan,
    python_lane_offenders,
    single_partition_offenders,
)
from kafka_stream_service_spark.plans.barrier import barrier


def _events(spark):
    return spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("v")
    )


def test_global_window_orderby_is_flagged(spark):
    df = _events(spark).withColumn("rn", F.row_number().over(Window.orderBy("v")))
    offenders = single_partition_offenders(physical_plan(df))
    assert offenders, "un-partitioned Window.orderBy must flag a SinglePartition offender"


def test_global_sort_collapse_not_misattributed(spark):
    # A partitioned window is fine: hashpartitioning exchange, no
    # SinglePartition collapse.
    df = _events(spark).withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("v"))
    )
    assert not single_partition_offenders(physical_plan(df))


def test_post_aggregation_single_partition_is_safe(spark):
    # Global aggregate: rows are reduced to ONE before the SinglePartition
    # exchange — the legitimate scalar-attachment shape the catalog uses.
    df = _events(spark).agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    assert not single_partition_offenders(physical_plan(df))


def test_limit_single_partition_is_safe(spark):
    df = _events(spark).limit(5)
    assert not single_partition_offenders(physical_plan(df))


def test_build_left_join_walks_stream_side(spark):
    """ADVICE r12: a BuildLeft broadcast join prints its BUILD side
    first, so the old flattened walk descended into the broadcast
    subtree (and could cross into unrelated siblings after it). The
    depth-aware walk must follow the STREAM side: here the stream side
    is a data-scale Range feeding a global window — offender — and the
    offender must be the stream-side source, not a build-side node."""
    big = spark.range(100000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    small = spark.range(7).select(F.col("id").alias("k"), F.lit("x").alias("lbl"))
    df = (
        small.hint("broadcast")
        .join(big, "k")
        .withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )
    plan = physical_plan(df)
    assert "BuildLeft" in plan, f"fixture lost its BuildLeft shape:\n{plan[:1500]}"
    offenders = single_partition_offenders(plan)
    assert offenders == ["Range"], (
        f"expected the stream-side Range as the offender, got {offenders}:\n{plan[:1500]}"
    )


def test_reused_exchange_resolves_through_reference(spark):
    """A SinglePartition exchange fed through a ReusedExchange must
    resolve the reference and keep walking the ORIGINAL subtree (here a
    bounded aggregate — safe), instead of falling off the tree into a
    sibling (old behavior) or flagging blindly."""
    agg = (
        spark.range(100000)
        .select((F.col("id") % 7).alias("k"))
        .groupBy("k")
        .count()
    )
    joined = agg.alias("a").join(
        agg.alias("b").withColumnRenamed("count", "c2"), "k"
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = physical_plan(joined.agg(F.sum("count").alias("s")))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    if "ReusedExchange" not in plan:  # planner did not reuse: nothing to pin
        return
    assert not single_partition_offenders(plan), plan


def test_detail_lines_cannot_inject_phantom_tree_nodes():
    """ADVICE r13: tree-node parsing used to scan the WHOLE formatted
    plan, so a detail-section line that happens to end in a bare
    ``(N)`` injected a phantom node. Worst case (modeled here): the
    phantom's id shadows a REAL node id in the id->index map, so a
    ReusedExchange reference resolves to the phantom — whose empty
    forward scan reports a ``<leaf>`` offender on a plan that is
    actually a bounded post-aggregation attachment. Tree parsing is now
    gated per section (off at each ``(N) Op`` detail header, back on at
    each ``Subquery:`` header), so the phantom line is never parsed."""
    plan = """== Physical Plan ==
* HashAggregate (6)
+- Exchange (5)
   +- ReusedExchange (4)

(4) ReusedExchange [Reuses operator id: 2]
Output [1]: [n#10L]

(5) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]

(6) HashAggregate
Functions: [sum(n#10L)]

===== Subqueries =====

Subquery:1 Hosting operator id = 6 Hosting Expression = Subquery scalar
* HashAggregate (3)
+- Exchange (2)
   +- * HashAggregate (1)
      +- Scan parquet (0)

(0) Scan parquet
Output [1]: [v#1L]
ReadSchema struct stats note (2)

(1) HashAggregate
Functions: [partial_count(v#1L)]

(2) Exchange
Arguments: hashpartitioning(v#1L, 32), ENSURE_REQUIREMENTS

(3) HashAggregate
Functions: [count(v#1L)]
"""
    assert single_partition_offenders(plan) == [], (
        "the ReusedExchange must resolve to the real Exchange (2) — whose "
        "child is a bounded aggregate — not to the phantom node injected "
        "by the detail line ending in (2)"
    )


# Queries whose SinglePartition exchange feeds a subtree the WALKER can't
# prove bounded but the DESIGN does — each entry carries the bound:
_CATALOG_ALLOWLIST = {
    # two-phase exact order statistic: the flagged window ranks ONLY the
    # k-th rank's residual bucket (bucket occupancy, not corpus scale);
    # the bucket census that picks it is post-aggregation (walker-safe)
    "q_conformal_coverage",
    # LAG windows over the Holt day-grain scan output: <= 366 rows by
    # construction (calendar grain), SF-invariant after the first groupBy
    "q_forecast_backtest",
}


def test_python_lane_walker_flags_scan_fed_udf(spark):
    """A pandas UDF straight over a file scan = narrow lane (flagged);
    the same lane behind cpu_fanout's round-robin exchange = wide; a
    lane behind a groupBy's hash exchange = wide too (any exchange
    re-distributes)."""
    from kafka_stream_service_spark.operators.ranks import cpu_fanout
    from kafka_stream_service_spark.tables import tables

    # lambda form: no type hints to resolve under future-annotations
    plus1 = F.pandas_udf(lambda s: s + 1, "long")

    ev = tables(spark, "/root/testdata/sf0.001")["events"]
    narrow = ev.select(plus1(F.col("event_id")).alias("x"))
    assert python_lane_offenders(physical_plan(narrow)) == [
        "ArrowEvalPython <- Scan parquet"
    ]
    fanned = cpu_fanout(ev).select(plus1(F.col("event_id")).alias("x"))
    assert python_lane_offenders(physical_plan(fanned)) == []
    shuffled = (
        ev.groupBy("user_id")
        .agg(F.max("event_id").alias("m"))
        .select(plus1(F.col("m")).alias("x"))
    )
    assert python_lane_offenders(physical_plan(shuffled)) == []


def test_filter_consumer_drags_udf_below_the_exchange_and_is_flagged(spark):
    """Pins the Catalyst interaction the gate exists for: a filter on a
    UDF-produced column ABOVE a repartition gets pushed through the
    exchange (predicates push through Repartition), dragging the
    ArrowEvalPython evaluation below it — the lane is narrow again even
    though the author fanned the input. The gate must flag this shape;
    the sanctioned fixes are a barrier before the filter (the DLQ
    pipeline's localCheckpoint), a provably non-nullable UDF column
    when the predicate is an inferred join IsNotNull (operators/ivf.py
    r14), or restructuring the consumer into an aggregate (which does
    not push through)."""
    from kafka_stream_service_spark.operators.ranks import cpu_fanout
    from kafka_stream_service_spark.tables import tables

    plus1 = F.pandas_udf(lambda s: s + 1, "long")
    ev = tables(spark, "/root/testdata/sf0.001")["events"]
    df = (
        cpu_fanout(ev)
        .select(plus1(F.col("event_id")).alias("x"))
        .filter(F.col("x") > 0)
    )
    plan = physical_plan(df)
    assert python_lane_offenders(plan) == ["ArrowEvalPython <- Scan parquet"], (
        f"pushed-through filter must leave a detectable narrow lane:\n{plan[:1200]}"
    )


def test_python_lane_on_broadcast_build_side_is_exempt(spark):
    """r15 (the r14 q_knn_ivf bench regression): a Python lane whose
    ancestor chain passes through a BroadcastExchange computes a build
    side — bounded by the broadcast threshold and collected to the
    driver regardless of task count — so scan-width is the RIGHT width
    there and the gate must not demand a fan (which adds a shuffle +
    stage for zero usable parallelism). The same lane consumed without
    a broadcast stays flagged."""
    from kafka_stream_service_spark.tables import tables

    plus1 = F.pandas_udf(lambda s: s + 1, "long")
    ev = tables(spark, "/root/testdata/sf0.001")["events"]
    build = ev.filter(F.col("event_id") < 8).select(
        "event_id", plus1(F.col("event_id")).alias("x")
    )
    joined = ev.join(F.broadcast(build), "event_id")
    assert python_lane_offenders(physical_plan(joined)) == [], (
        "broadcast build side must be exempt"
    )
    # the identical lane with no broadcast consumer is still narrow
    assert python_lane_offenders(physical_plan(build)) == [
        "ArrowEvalPython <- Scan parquet"
    ]


def test_q_knn_ivf_lanes_have_operator_chosen_widths(catalog_sweep):
    """The shipping IVF row (rows-only, so its plan shape IS the check):
    the corpus assignment gemm must sit above ivf_knn's internal
    round-robin fan; the broadcast-bound probe lane must NOT be fanned
    — no RoundRobinPartitioning anywhere under its BroadcastExchange."""
    plan = catalog_sweep["q_knn_ivf"].plan
    assert "RoundRobinPartitioning" in plan, plan[:1500]
    assert python_lane_offenders(plan) == [], plan[:1500]
    # the probe branch: everything beneath the BroadcastExchange must be
    # exchange-free (scan -> probe UDF -> explode -> broadcast)
    from kafka_stream_service_spark.plans.inspect import _tree_nodes

    nodes = _tree_nodes(plan)
    for i, (_, title, _nid) in enumerate(nodes):
        if not title.startswith("BroadcastExchange"):
            continue
        d = nodes[i][0]
        for j in range(i + 1, len(nodes)):
            if nodes[j][0] <= d:
                break
            assert not nodes[j][1].startswith("Exchange"), (
                f"fan exchange under the broadcast build side:\n{plan[:2000]}"
            )


# Python lanes the WIDTH walker flags but whose one-task shape is right
# by construction — each entry carries the bound:
_PY_LANE_ALLOWLIST = {
    # bounded slice by construction (o_orderkey < 2000): 2000 rows at
    # EVERY SF, so one task IS the right width at any scale and a
    # fan-out would add a pointless shuffle of a constant-size frame
    "q_proto_roundtrip",
    # binaryFile source: scan width = file count by construction (one
    # split per file); at production image volumes that is thousands of
    # tasks — the fixture's file count is the narrowness, not the plan
    "q_binaryfile_ingest",
}


def test_sweep_goes_red_on_plan_build_failure(spark, sf_dir):
    """Red-path proof (VERDICT r12 next-steps #2): a query whose
    spark_fn raises at plan time must surface as ``broken`` — the old
    ``except Exception: continue`` made exactly this invisible. The same
    sweep must flag a row that plans a cartesian product, a row that
    outputs an array column, and a row over its shuffle budget, also
    where the product or the shuffles sit under a barrier; a budget on
    a broken or unregistered row is flagged too."""

    class _BrokenSpec:
        @staticmethod
        def spark_fn(spark, sf):
            raise RuntimeError("deliberately broken for the red-path proof")

    class _CartesianSpec:
        @staticmethod
        def spark_fn(spark, sf):
            return spark.range(3).hint("shuffle_replicate_nl").crossJoin(
                spark.range(3).withColumnRenamed("id", "j"))

    class _ArraySpec:
        @staticmethod
        def spark_fn(spark, sf):
            return spark.range(3).select(F.array("id", "id").alias("pair"))

    class _TwoShufflesSpec:
        @staticmethod
        def spark_fn(spark, sf):
            return spark.range(30).repartition(4, "id").groupBy(F.col("id") % 3).count()

    # the same two shapes under a barrier: the row's own plan shows only
    # the cut, so the gates must read the recorded barrier plan
    class _CartesianCutSpec:
        @staticmethod
        def spark_fn(spark, sf):
            return barrier(_CartesianSpec.spark_fn(spark, sf), "reuse").select("j")

    class _TwoShufflesCutSpec:
        @staticmethod
        def spark_fn(spark, sf):
            return barrier(_TwoShufflesSpec.spark_fn(spark, sf), "reuse").select("count")

    sweep = catalog_plans.build_rows(
        spark,
        {"q_deliberately_broken": _BrokenSpec, "q_cartesian": _CartesianSpec,
         "q_array_out": _ArraySpec, "q_two_shuffles": _TwoShufflesSpec,
         "q_cartesian_cut": _CartesianCutSpec, "q_two_shuffles_cut": _TwoShufflesCutSpec},
        sf_dir,
    )
    broken = catalog_plans.broken(sweep)
    assert list(broken) == ["q_deliberately_broken"]
    assert "RuntimeError" in broken["q_deliberately_broken"]
    # and an allowlisted failure is NOT red (the escape hatch works)
    assert not catalog_plans.broken(sweep, {"q_deliberately_broken": "red-path proof"})
    assert "CartesianProduct" not in sweep["q_cartesian_cut"].plan
    assert catalog_plans.cartesian(sweep) == ["q_cartesian", "q_cartesian_cut"]
    assert catalog_plans.complex_outputs(sweep) == {"q_array_out": ["pair"]}
    assert count_shuffle_exchanges(sweep["q_two_shuffles_cut"].plan) == 0
    over = catalog_plans.over_budget(
        sweep, {"q_cartesian": 1, "q_array_out": 1, "q_two_shuffles": 1,
                "q_two_shuffles_cut": 1})
    assert list(over) == ["q_two_shuffles", "q_two_shuffles_cut"], over
    over = catalog_plans.over_budget(sweep, {"q_deliberately_broken": 9, "q_unregistered": 9})
    assert list(over) == ["q_deliberately_broken", "q_unregistered"], over


def test_no_data_scale_single_partition_anywhere_in_catalog(catalog_sweep):
    """Catalog-wide sweep (the ADVICE r11 companion made a gate, like
    test_no_cartesian_anywhere_in_catalog): no query may serialize an
    unbounded subtree onto one partition, and — same pass, since plans
    are built anyway — no query may plan row-at-a-time Python
    (BatchEvalPython; pandas/Arrow nodes are the sanctioned Python
    path — round 12 flipped the two UDTFs to useArrow=True, closing
    the last row-path nodes). Round 12 migrated the five real
    single-partition offenders (ntile/row_number families) onto
    operators/ranks.py's distributed two-phase ranks; the allowlist
    holds only designs the WALKER cannot see are bounded, each with
    its bound stated above."""
    # A query that fails to PLAN escapes the cartesian gate, this
    # SinglePartition gate, and the row-Python lint in one breath
    # (VERDICT r12 next-steps #2) — collect and assert, never skip.
    # Empty today: all 454 queries plan cleanly at sf0.001.
    broken = catalog_plans.broken(catalog_sweep)
    assert not broken, (
        "queries whose plan failed to BUILD (these escape the cartesian, "
        "SinglePartition, AND row-Python gates simultaneously — fix or "
        f"allowlist with a reason): {broken}"
    )
    bad = catalog_plans.single_partition(catalog_sweep, _CATALOG_ALLOWLIST)
    assert not bad, (
        "data-scale SinglePartition collapse in: "
        f"{bad} — migrate to operators/ranks.py or justify in the allowlist"
    )
    row_python = catalog_plans.row_python(catalog_sweep)
    assert not row_python, (
        f"row-at-a-time Python (BatchEvalPython) in: {row_python} — use a "
        "pandas UDF / Arrow-optimized UDTF (useArrow=True)"
    )
    narrow_python = catalog_plans.narrow_python(catalog_sweep, _PY_LANE_ALLOWLIST)
    assert not narrow_python, (
        "Python-eval node fed straight from a file scan (one task on the "
        f"single-file fixtures — the r14 13s-row shape) in: {narrow_python} "
        "— fan the input with operators.ranks.cpu_fanout or justify in "
        "_PY_LANE_ALLOWLIST"
    )
