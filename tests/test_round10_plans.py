"""Plan-shape assertions for the round-10 operators: shuffle budgets
(views of ``catalog_plans.SHUFFLE_BUDGETS``) and broadcast shapes read
off the session's catalog sweep, plus the stored-index read seams, which
build their artifact before planning.
"""

from __future__ import annotations


import pytest
from catalog_plans import broadcast_joins, budgets, over_budget, over_view

from kafka_stream_service_spark.plans import physical_plan
from kafka_stream_service_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_exact_substr_spans", "q_exact_substr_stats", "q_weighted_sample_es",
            "q_mann_kendall_trend", "q_logrank_test", "q_nelson_aalen",
            "q_cliffs_delta", "q_heaps_law_fit", "q_matryoshka_energy",
            "q_brier_decomposition"),
)
def test_round10_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_pair_consumers_scan_the_snapshot(spark):
    """Consumers must READ the persisted pair index, not re-derive the
    LSH pipeline. The consumers' own plans hide the scan behind a
    lineage-truncating localCheckpoint (Scan ExistingRDD), so assert at
    the pair_index() seam they all call: with the artifact present, its
    plan is a parquet scan of the snapshot path and contains NO
    aggregation (the derivation's signature shape)."""
    from kafka_stream_service_spark.queries.dedup2 import (
        build_pair_index,
        pair_index,
        pair_index_path,
    )

    build_pair_index(spark, SF)
    plan = physical_plan(pair_index(spark, SF))
    token = pair_index_path(SF).rsplit("/", 1)[-1]
    assert token in plan, "pair_index() does not scan the snapshot path"
    assert "Aggregate" not in plan and "HashAggregate" not in plan, (
        "pair_index() re-derives instead of reading the artifact"
    )


def test_bucket_index_seam_is_a_parquet_scan(spark):
    """bucket_index() with the artifact present must be a pure parquet
    read of the banded table — no signature derivation (aggregate)
    anywhere in its plan."""
    from kafka_stream_service_spark.queries.dedup2 import (
        bucket_index,
        bucket_index_path,
        build_bucket_index,
    )

    build_bucket_index(spark, SF)
    plan = physical_plan(bucket_index(spark, SF))
    token = bucket_index_path(SF).rsplit("/", 1)[-1]
    assert token in plan, "bucket_index() does not scan the stored artifact"
    assert "Aggregate" not in plan and "HashAggregate" not in plan, (
        "bucket_index() re-derives instead of reading the artifact"
    )


def test_delta_probe_reads_stored_buckets(spark):
    """q_pair_index_delta (VERDICT r10 #2) must probe the STORED bucket
    index: with the artifact present, its plan scans the buckets
    parquet directly (the probe side's shingle scans hide behind
    localCheckpoint, but the stored side is a plain read)."""
    from kafka_stream_service_spark.queries.dedup2 import (
        bucket_index_path,
        build_bucket_index,
    )

    # plans after building the stored artifact, so it keeps its own build
    build_bucket_index(spark, SF)
    plan = physical_plan(QUERIES["q_pair_index_delta"].spark_fn(spark, SF))
    token = bucket_index_path(SF).rsplit("/", 1)[-1]
    assert token in plan, "delta probe does not read the stored bucket index"


def test_semdedup_broadcasts_cluster_frames(catalog_sweep):
    assert broadcast_joins(catalog_sweep["q_semdedup_prune"].plan) >= 1  # the K-row ns frame


def test_power_iteration_is_dims_grain_after_covariance(catalog_sweep):
    """The two iterations + Rayleigh must run on dims^2-grain frames —
    no data-scale exchange after the covariance rollup (its budget in
    the table: scan + vec_id self-join + dims rollups + tiny joins)."""
    assert not over_budget(catalog_sweep, dict(budgets("q_power_iteration_top_eigvec")))
