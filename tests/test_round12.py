"""Round-12 lifecycle tests: snapshot retention/GC (VERDICT r11 #4) and
the incremental IVF refresh (VERDICT r11 #5) — the operator-level
contracts behind q_snapshot_gc_census / q_knn_ivf_refresh.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from kafka_stream_service_spark.operators.retention import (
    gc_snapshots,
    list_snapshot_artifacts,
)
from kafka_stream_service_spark.plans import (
    count_shuffle_exchanges,
    physical_plan,
)
from kafka_stream_service_spark.queries.registry import QUERIES
from kafka_stream_service_spark.queries.stored import publish_atomic, snapshot_dir

SF = "/root/testdata/sf0.001"
TAG = "gc_unit"


def _clean_tag(tag: str) -> str:
    import shutil

    root = snapshot_dir(tag, SF)
    for name in os.listdir(root):
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return root


def _publish_revs(spark, root: str, n: int) -> list[str]:
    now = time.time()
    paths = []
    for i in range(n):
        out = os.path.join(root, f"rev{i}")
        publish_atomic(out, (spark.range(i + 1).select(F.col("id")), ()))
        os.utime(out, (now - 600 + i * 60, now - 600 + i * 60))
        paths.append(out)
    return paths


def test_gc_keeps_newest_and_pinned_deletes_rest(spark):
    root = _clean_tag(TAG)
    paths = _publish_revs(spark, root, 5)
    report = gc_snapshots(TAG, SF, keep_latest=2, keep_paths=(paths[1],))
    assert set(report.kept) == {"rev4", "rev3", "rev1"}
    assert set(report.deleted) == {"rev2", "rev0"}
    for i, p in enumerate(paths):
        alive = os.path.exists(os.path.join(p, "_SUCCESS"))
        assert alive == (i in (4, 3, 1)), f"rev{i} post-GC state wrong"


def test_gc_is_idempotent(spark):
    root = _clean_tag(TAG)
    _publish_revs(spark, root, 4)
    first = gc_snapshots(TAG, SF, keep_latest=2)
    second = gc_snapshots(TAG, SF, keep_latest=2)
    assert set(first.kept) == set(second.kept) == {"rev3", "rev2"}
    assert second.deleted == ()


def test_gc_dry_run_deletes_nothing(spark):
    root = _clean_tag(TAG)
    paths = _publish_revs(spark, root, 3)
    report = gc_snapshots(TAG, SF, keep_latest=1, dry_run=True)
    assert set(report.deleted) == {"rev1", "rev0"}
    for p in paths:
        assert os.path.exists(os.path.join(p, "_SUCCESS")), "dry run deleted data"


def test_gc_sweeps_stale_tmp_spares_fresh_tmp_and_incomplete(spark):
    root = _clean_tag(TAG)
    _publish_revs(spark, root, 2)
    now = time.time()
    stale = os.path.join(root, "rev9.tmp.111")
    os.makedirs(stale)
    os.utime(stale, (now - 7200, now - 7200))
    fresh = os.path.join(root, "rev9.tmp.222")
    os.makedirs(fresh)  # a live builder's in-flight temp dir
    incomplete = os.path.join(root, "rev8")  # published name, no _SUCCESS
    os.makedirs(incomplete)
    report = gc_snapshots(TAG, SF, keep_latest=2, tmp_grace_s=3600.0)
    assert report.tmp_swept == ("rev9.tmp.111",)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh), "live builder temp dir must survive the grace period"
    assert os.path.exists(incomplete), "incomplete published dir must be skipped, not deleted"
    assert "rev8" in report.skipped_incomplete
    # ADVICE r12: a fresh temp dir is a LIVE builder, not an anomaly —
    # two distinct states, two distinct report fields
    assert report.tmp_young == ("rev9.tmp.222",)
    assert "rev9.tmp.222" not in report.skipped_incomplete
    assert report.delete_failed == ()


def test_gc_failed_delete_is_not_reported_as_deleted(spark, monkeypatch):
    """ADVICE r12: rmtree(ignore_errors=True) can fail partway; the
    report must record the artifact under delete_failed — claiming it
    deleted while the path is alive would poison every downstream
    census."""
    from kafka_stream_service_spark.operators import retention

    real_rmtree = retention.shutil.rmtree
    root = _clean_tag(TAG)
    paths = _publish_revs(spark, root, 3)
    monkeypatch.setattr(retention.shutil, "rmtree", lambda *a, **k: None)
    report = gc_snapshots(TAG, SF, keep_latest=1)
    assert report.deleted == ()
    assert set(report.delete_failed) == {"rev1", "rev0"}
    assert all(os.path.exists(p) for p in paths)
    monkeypatch.setattr(retention.shutil, "rmtree", real_rmtree)
    # and the real pass afterwards converges to the policy state
    report2 = gc_snapshots(TAG, SF, keep_latest=1)
    assert set(report2.deleted) == {"rev1", "rev0"}
    assert report2.delete_failed == ()


def test_gc_refuses_zero_keep_and_symlinks(spark, tmp_path):
    root = _clean_tag(TAG)
    _publish_revs(spark, root, 1)
    with pytest.raises(ValueError):
        gc_snapshots(TAG, SF, keep_latest=0)
    os.symlink(str(tmp_path), os.path.join(root, "evil_link"))
    try:
        with pytest.raises(RuntimeError):
            list_snapshot_artifacts(TAG, SF)
    finally:
        os.unlink(os.path.join(root, "evil_link"))


def test_gc_census_query_shape(spark):
    df = QUERIES["q_snapshot_gc_census"].spark_fn(spark, SF).orderBy("rev_ix")
    rows = df.collect()
    assert [r.rev_ix for r in rows] == [0, 1, 2, 3, 4]
    assert [r.kept for r in rows] == [0, 1, 0, 1, 1]
    for r in rows:
        if r.kept:
            assert r.n_docs is not None and r.n_docs > 0
        else:
            assert r.n_docs is None
        assert (r.n_deleted, r.n_tmp_swept, r.n_skipped_incomplete) == (2, 1, 1)


# ---------------------------------------------------------------------------
# IVF refresh seams
# ---------------------------------------------------------------------------


def test_ivf_refresh_reads_stored_base_index(spark):
    """The refresh probe must read the BASE IVF artifact (members AND
    centroids come from parquet — the seam that proves
    assign-to-STORED-centroids, not re-derivation) and never plan an
    index-side shuffle beyond the census rollup."""
    from kafka_stream_service_spark.queries.round12 import IVF_BASE_INDEX

    # plans after building the stored artifact, so it keeps its own build
    IVF_BASE_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_knn_ivf_refresh"].spark_fn(spark, SF))
    token = IVF_BASE_INDEX.path(SF).rsplit("/", 1)[-1]
    assert plan.count(token) >= 2, (
        "refresh probe must scan BOTH artifact parts (members + centroids) "
        f"of the stored base index:\n{plan}"
    )
    n = count_shuffle_exchanges(plan)
    assert n <= 2, f"refresh probe plans {n} keyed shuffles (budget 2):\n{plan}"


def test_ivf_refresh_census_read_is_zone_map_pruned(spark):
    """VERDICT r12 next-steps #3 seam: the touched-list ids must reach
    the members parquet scan as a literal In(centroid_id, ...)
    PushedFilter — file/row-group zone-map skipping on the
    range-partitioned, centroid-sorted artifact — not as a post-scan
    broadcast-join filter (the r12 shape, which read every member row)."""
    from kafka_stream_service_spark.queries.round12 import IVF_BASE_INDEX

    # plans after building the stored artifact, so it keeps its own build
    IVF_BASE_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_knn_ivf_refresh"].spark_fn(spark, SF))
    pushed = [
        ln
        for ln in plan.splitlines()
        if "PushedFilters" in ln and "In(centroid_id" in ln
    ]
    assert pushed, f"touched-list In() never reached the members scan:\n{plan}"


def test_ivf_refresh_parametric_k_matches_catalog_defaults(spark):
    """ivf_refresh_census must be exactly the registered catalog row."""
    from kafka_stream_service_spark.queries.round12 import ivf_refresh_census

    a = sorted(map(tuple, QUERIES["q_knn_ivf_refresh"].spark_fn(spark, SF).collect()))
    b = sorted(map(tuple, ivf_refresh_census(spark, SF).collect()))
    assert a == b


def test_ivf_superseded_revisions_are_swept_on_build(spark):
    """ADVICE r13: rev-token bumps and probe k-sweeps must not strand
    orphan ivf_base artifacts forever. The on-build sweep deletes
    stale (>1h) siblings, keeps fresh ones (a live probe's variants),
    and unconditionally pins the catalog artifact even when IT is
    stale-aged."""
    import shutil
    import time as _time

    from kafka_stream_service_spark.queries.round12 import IVF_BASE_INDEX

    root = snapshot_dir("ivf_base", SF)
    old = os.path.join(root, "r1k8d10r7_feedc0de")
    fresh = os.path.join(root, "r1k64d50r3_feedc0de")
    os.makedirs(old, exist_ok=True)
    os.makedirs(fresh, exist_ok=True)
    stale_t = _time.time() - 7200
    os.utime(old, (stale_t, stale_t))
    IVF_BASE_INDEX.build(spark, SF)
    catalog = IVF_BASE_INDEX.path(SF)
    os.utime(catalog, (stale_t, stale_t))  # stale-aged catalog artifact
    IVF_BASE_INDEX.build(spark, SF)  # no-op rebuild -> sweep runs
    assert not os.path.exists(old), "stale superseded revision must be swept"
    assert os.path.exists(fresh), "fresh sibling (live probe variant) must survive"
    assert os.path.exists(catalog), "catalog artifact is pinned regardless of age"
    shutil.rmtree(fresh, ignore_errors=True)


def test_ivf_refresh_does_not_rewrite_the_artifact(spark):
    from kafka_stream_service_spark.queries.round12 import IVF_BASE_INDEX

    IVF_BASE_INDEX.build(spark, SF)
    path = IVF_BASE_INDEX.path(SF)
    before = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    QUERIES["q_knn_ivf_refresh"].spark_fn(spark, SF).count()
    after = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    assert before == after


def test_ivf_base_members_exclude_delta_slice(spark):
    from kafka_stream_service_spark.queries.round12 import (
        IVF_BASE_INDEX,
        IVF_DELTA_MOD,
        IVF_DELTA_REM,
    )

    members = IVF_BASE_INDEX.read(spark, SF)["members"]
    n_delta = members.filter(
        (F.col("vec_id") % IVF_DELTA_MOD) == IVF_DELTA_REM
    ).count()
    assert n_delta == 0, "base index must exclude the arrival slice"


def test_ivf_refresh_merge_equals_rebuild_on_touched_lists(spark):
    """Pin merge == rebuild engine-side too (the driver proves it vs
    DuckDB; this keeps the invariant red under pytest alone): recompute
    the census from a full in-engine rebuild — at the CATALOG k
    (delta-proportional, r14) and the 1% IVF arrival slice — and
    compare exactly."""
    from kafka_stream_service_spark.queries.corpus_ops import _quantized
    from kafka_stream_service_spark.queries.round12 import (
        IVF_DELTA_MOD,
        IVF_DELTA_REM,
        ivf_catalog_k,
    )
    from kafka_stream_service_spark.tables import tables

    probe = {
        tuple(r)
        for r in QUERIES["q_knn_ivf_refresh"].spark_fn(spark, SF).collect()
    }
    k = ivf_catalog_k(SF)
    e = _quantized(tables(spark, SF)["embeddings"])
    cent = e.filter(F.col("vec_id") < k).select(
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
    keyed = e.select("vec_id", "qv").crossJoin(F.broadcast(cent)).select(
        "vec_id", "qv", (diff2 * k + F.col("cid")).alias("key")
    )
    assign = keyed.groupBy("vec_id").agg(F.min("key").alias("key"))
    nrm = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("qv"), lambda a, b: a.cast("bigint") * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    full = assign.join(e.select("vec_id", F.col("qv")), "vec_id").select(
        "vec_id",
        (F.col("key") % k).cast("int").alias("centroid_id"),
        F.expr(f"key DIV {k}").cast("bigint").alias("dist2"),
        nrm.alias("nrm"),
    )
    touched = (
        full.filter((F.col("vec_id") % IVF_DELTA_MOD) == IVF_DELTA_REM)
        .select("centroid_id")
        .distinct()
    )
    rebuild = {
        tuple(r)
        for r in full.join(F.broadcast(touched), "centroid_id")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum(
                ((F.col("vec_id") % IVF_DELTA_MOD) == IVF_DELTA_REM).cast("int")
            )
            .cast("bigint")
            .alias("n_delta"),
            F.sum("dist2").cast("bigint").alias("sum_dist2"),
            F.sum("nrm").cast("bigint").alias("sum_nrm"),
        )
        .collect()
    }
    assert probe == rebuild


# ---------------------------------------------------------------------------
# Distributed exact ntile (the round-12 single-partition migration)
# ---------------------------------------------------------------------------


def test_distributed_ntile_matches_window_ntile_exactly(spark):
    """Pin with_global_ntile == ntile(k) OVER (ORDER BY ...) across the
    tile-split edge cases (N mod k = 0, N < k, N mod k in the middle) —
    the arithmetic the five migrated catalog rows now rely on."""
    from pyspark.sql import Window

    from kafka_stream_service_spark.operators.ranks import (
        NTILE_COL,
        with_global_ntile,
    )

    for n in (3, 7, 10, 23, 100, 101):
        for k in (3, 10):
            df = spark.range(n).select(
                (F.col("id") * 7 % 13).alias("v"), F.col("id").alias("t")
            )
            ref = df.select(
                "v", "t", F.ntile(k).over(Window.orderBy("v", "t")).alias("want")
            )
            got = with_global_ntile(df, k, "v", "t").select(
                "v", "t", F.col(NTILE_COL).alias("got")
            )
            bad = (
                ref.join(got, ["v", "t"])
                .filter(F.col("want") != F.col("got"))
                .count()
            )
            assert bad == 0, f"ntile mismatch at n={n}, k={k}: {bad} rows"


def test_migrated_rank_queries_plan_shapes(catalog_sweep):
    """The five migrated rows hold bounded keyed-shuffle budgets (1 range
    exchange for the rank + the final rollup where one exists; the
    budgets sit in ``catalog_plans.SHUFFLE_BUDGETS``). No SinglePartition
    offender and no cartesian: the catalog-wide gates check every row."""
    from catalog_plans import budgets, over_budget

    assert not over_budget(catalog_sweep, dict(budgets(
        "q_systematic_sample", "q_cume_dist_percentiles", "q_calibration_bins",
        "q_histogram_equidepth", "q_decile_lift")))


def test_global_ranks_broadcast_offset_path(spark):
    """Above _OFFSET_WHEN_MAX partitions the rank offsets attach via a
    broadcast join (chained whens defeat codegen at cluster-scale
    partition counts) — ranks must be identical on both paths."""
    from kafka_stream_service_spark.operators.ranks import (
        RANK_COL,
        with_global_ranks,
    )

    df = spark.range(500).select(
        (F.col("id") * 13 % 97).alias("v"), F.col("id").alias("t")
    )
    small = {
        (r["v"], r["t"]): r[RANK_COL]
        for r in with_global_ranks(df, "v", "t", num_partitions=4).collect()
    }
    large = {
        (r["v"], r["t"]): r[RANK_COL]
        for r in with_global_ranks(df, "v", "t", num_partitions=64).collect()
    }
    assert small == large
    assert sorted(small.values()) == list(range(1, 501))


def test_running_totals_broadcast_offset_path(spark):
    """scan.with_running_totals' broadcast-offset fallback (same
    cluster-scale codegen concern as the ranks path) must produce
    identical prefix sums at small and large partition counts."""
    from kafka_stream_service_spark.operators.scan import with_running_totals

    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 11).alias("x")
    )

    def run(n):
        return {
            r["k"]: r["cum_x"]
            for r in with_running_totals(df, ["k"], ["x"], num_partitions=n).collect()
        }

    small, large = run(4), run(64)
    assert small == large
    # spot the closed form: cum at k equals sum of (i*3 % 11) for i<=k
    acc, want = 0, {}
    for i in range(300):
        acc += i * 3 % 11
        want[i] = acc
    assert small == want


def test_data_sized_partitions_derivation(spark):
    """The fan-out derivation (VERDICT r12 #4): plan-time only, floored
    at cluster width, data-proportional via Catalyst stats, capped at 8x
    cluster. _parse_bytes handles Spark's byte-suffix conf spellings."""
    from kafka_stream_service_spark.operators.ranks import (
        _parse_bytes,
        data_sized_partitions,
    )

    assert _parse_bytes("134217728b") == 128 << 20
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("64k") == 64 << 10
    assert _parse_bytes("4096") == 4096
    # fractional values multiply BEFORE truncating (ADVICE r13:
    # '1.5g' used to parse as 1 GiB, skewing the estimate by 33%)
    assert _parse_bytes("1.5g") == 3 << 29
    assert _parse_bytes("0.5m") == 1 << 19

    cluster = spark.sparkContext.defaultParallelism
    # a tiny frame floors at max(cluster, 8) — never under-parallelized
    tiny = spark.range(10).selectExpr("id AS v", "id AS t")
    assert data_sized_partitions(tiny) == max(cluster, 8)
    # the cap binds on absurd stats estimates (cartesian-sized plans)
    big = spark.range(1 << 20).crossJoin(
        spark.range(1 << 20).selectExpr("id AS id2")
    )
    assert data_sized_partitions(big) == 8 * cluster


def test_group_exact_percentiles_matches_sql_aggregates(spark):
    """The histogram-ranked per-group percentile operator (r14: replaces
    the per-group-buffer percentile()/percentile_disc aggregates in
    q_percentiles_exact / q_winsorized_stats) must equal Spark's own
    aggregate definitions exactly — cont == percentile(), disc ==
    percentile_disc — including duplicate-heavy and 1-row groups."""
    from kafka_stream_service_spark.operators.ranks import group_exact_percentiles

    df = spark.range(1000).select(
        (F.col("id") % 4).alias("g"),
        # duplicate-heavy values, deliberately unordered arrival
        ((F.col("id") * 37) % 19).cast("double").alias("v"),
    ).union(spark.range(1).select(F.lit(9).alias("g"), F.lit(42.0).alias("v")))
    got = {
        r["g"]: r
        for r in group_exact_percentiles(
            df, "g", "v", cont=(0.25, 0.5), disc=(0.05, 0.95)
        ).collect()
    }
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(v, 0.25)").alias("c25"),
            F.expr("percentile(v, 0.5)").alias("c5"),
            F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY v)").alias("d05"),
            F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY v)").alias("d95"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g, w in want.items():
        r = got[g]
        assert r["n"] == w["n"], (g, r, w)
        assert abs(r["cont_25"] - w["c25"]) < 1e-9, (g, r, w)
        assert abs(r["cont_5"] - w["c5"]) < 1e-9, (g, r, w)
        assert r["disc_05"] == w["d05"], (g, r, w)
        assert r["disc_95"] == w["d95"], (g, r, w)


def test_group_exact_percentiles_disc_boundaries(spark):
    """percentile_disc at EXACT boundaries (n*p integral): the operator's
    ceil(n*p) runs in double, so a p whose double sits above the decimal
    rational (0.1, 0.3, ...) could flip the rank at multiples. Sweep
    boundary-rich (n, p) combinations against Spark's own aggregate —
    IEEE rounding sends n*p back to the exact integer whenever the
    rational is integral (error n*eps_p stays under half an ULP up to
    ~1e13 rows/group), so the selections must be identical."""
    from kafka_stream_service_spark.operators.ranks import group_exact_percentiles

    ps = (0.05, 0.1, 0.2, 0.25, 0.5, 0.75, 0.8, 0.9, 0.95)
    for n in (10, 20, 40, 100, 400):
        df = spark.range(1, n + 1).select(
            F.lit("g").alias("g"), F.col("id").cast("double").alias("v")
        )
        want = df.agg(
            *[
                F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY v)").alias(
                    f"x{i}"
                )
                for i, p in enumerate(ps)
            ]
        ).collect()[0]
        got = group_exact_percentiles(df, "g", "v", disc=ps).collect()[0]
        for i, p in enumerate(ps):
            tag = f"{p:.10f}".rstrip("0").split(".")[1]
            assert got[f"disc_{tag}"] == want[f"x{i}"], (n, p, got, want)


def test_group_exact_percentiles_skips_nulls(spark):
    """SQL percentile_cont/percentile_disc (and DuckDB quantile_*) skip
    NULLs; the histogram operator must too (ADVICE r14: an unfiltered
    NULL row sorts FIRST in the ascending histogram window, occupying
    the lowest ranks — every percentile silently shifts and ``n``
    overcounts). Mixed-null groups must match Spark's own aggregates;
    an all-null group must vanish (no non-null values = no row, the
    aggregate-with-GROUP-BY analogue of NULL results)."""
    from kafka_stream_service_spark.operators.ranks import group_exact_percentiles

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)]
        + [("a", None)] * 5
        + [("b", None)] * 3,
        "g string, v double",
    )
    rows = {
        r["g"]: r
        for r in group_exact_percentiles(
            df, "g", "v", cont=(0.5,), disc=(0.25,)
        ).collect()
    }
    assert set(rows) == {"a"}, f"all-null group must produce no row: {rows}"
    want = (
        df.filter("g = 'a'")
        .agg(
            F.expr("percentile(v, 0.5)").alias("c5"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)").alias("d25"),
        )
        .collect()[0]
    )
    got = rows["a"]
    assert got["n"] == 10, got  # non-null count only
    assert abs(got["cont_5"] - want["c5"]) < 1e-9, (got, want)
    assert got["disc_25"] == want["d25"], (got, want)


def test_group_exact_percentiles_endpoint_tags(spark):
    """p=0.0 / p=1.0 must yield distinct, non-empty column tags (ADVICE
    r14: both stripped to '' and collided on a bare 'cont_'/'disc_'
    alias) and the min/max values; out-of-range p must raise."""
    import pytest

    from kafka_stream_service_spark.operators.ranks import group_exact_percentiles

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 6)], "g string, v double"
    )
    row = group_exact_percentiles(
        df, "g", "v", cont=(0.0, 1.0), disc=(0.0, 1.0)
    ).collect()[0]
    assert row["cont_0"] == 1.0 and row["cont_100"] == 5.0, row
    assert row["disc_0"] == 1.0 and row["disc_100"] == 5.0, row
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        group_exact_percentiles(df, "g", "v", cont=(1.5,))


def test_cpu_fanout_widens_narrow_scans_only(spark):
    """cpu_fanout (VERDICT r13 #3 root cause): a small file scan must
    gain a round-robin exchange so Arrow lanes use every core; a frame
    whose plan-time size estimate already exceeds cluster width x
    maxPartitionBytes must come back IDENTICAL — no shuffle added to
    production-sized inputs."""
    from kafka_stream_service_spark.operators.ranks import cpu_fanout
    from kafka_stream_service_spark.plans import physical_plan
    from kafka_stream_service_spark.tables import tables

    ev = tables(spark, SF)["events"]
    fanned = cpu_fanout(ev)
    plan = physical_plan(fanned)
    assert "RoundRobinPartitioning" in plan, (
        f"small single-file scan must fan out to cluster width:\n{plan[:1200]}"
    )
    # Size the "big" frame from THIS session's width arithmetic instead
    # of a fixed 2^30 rows (ADVICE r14: a literal constant makes the
    # assertion fail on any host whose defaultParallelism exceeds the
    # implied estimate): est = ceil(rows * 8B / maxPartitionBytes) must
    # beat defaultParallelism, so 2x the break-even row count does on
    # every host.
    from kafka_stream_service_spark.operators.ranks import _parse_bytes

    cluster = spark.sparkContext.defaultParallelism
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    big = spark.range(2 * cluster * max_bytes // 8)
    assert cpu_fanout(big) is big, "wide input must pass through untouched"


def test_dlq_split_python_lanes_are_fanned_out(catalog_sweep):
    """The r13 13s row: every Arrow crossing in q_codec_dlq_split ran on
    ONE task because the events fixture is one small parquet file. The
    pipeline body sits under the row's one barrier, so its recorded
    plan must carry the cpu_fanout round-robin exchange upstream of the
    encode UDF, and no Python lane of it may read the scan directly."""
    from kafka_stream_service_spark.plans import python_lane_offenders

    (plan,) = catalog_sweep["q_codec_dlq_split"].barriers
    assert "RoundRobinPartitioning" in plan, plan[:1500]
    assert "ArrowEvalPython" in plan, plan[:1500]
    assert python_lane_offenders(plan) == [], plan[:1500]


def test_gc_census_sweeps_dead_process_slates(spark):
    """The per-pid demo isolation (ADVICE r12) must not itself leak:
    sibling gc_demo_pid* tag dirs older than an hour (exited processes)
    are retired on entry; fresh siblings (a live concurrent process)
    survive."""
    import shutil

    mine = snapshot_dir(f"gc_demo_pid{os.getpid()}", SF)
    parent = os.path.dirname(mine)
    stale = os.path.join(parent, "snap_gc_demo_pid99998_deadbeef")
    fresh = os.path.join(parent, "snap_gc_demo_pid99999_deadbeef")
    now = time.time()
    for p, age in ((stale, 7200), (fresh, 60)):
        os.makedirs(p, exist_ok=True)
        os.utime(p, (now - age, now - age))
    try:
        QUERIES["q_snapshot_gc_census"].spark_fn(spark, SF).count()
        assert not os.path.exists(stale), "dead process slate not swept"
        assert os.path.exists(fresh), "live process slate must survive"
    finally:
        for p in (stale, fresh):
            shutil.rmtree(p, ignore_errors=True)
