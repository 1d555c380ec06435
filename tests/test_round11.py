"""Round-11: stored semantic index + incremental SemDeDup probe.

The driver's oracle gate hash-certifies q_semdedup_delta_edges against
the full-recompute CTE at sf0.01; these tests pin the artifact
lifecycle and the plan-shape properties the oracle cannot state, plus
an independent Spark-side brute-force equality at sf0.001.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_service_spark.queries.registry import QUERIES
from kafka_stream_service_spark.queries.round11 import (
    _SEM_DELTA_MOD,
    _SEM_DELTA_REM,
    SEM_INDEX,
)

SF = "/root/testdata/sf0.001"


def test_sem_index_matches_live_assignment(spark):
    from kafka_stream_service_spark.queries.clustering import _assignments

    idx = SEM_INDEX.build(spark, SF)
    live = _assignments(spark, SF)
    got = {(r.vec_id, r.centroid_id) for r in idx.select("vec_id", "centroid_id").collect()}
    want = {(r.vec_id, r.centroid_id) for r in live.select("vec_id", "centroid_id").collect()}
    assert got == want


def test_delta_edges_equal_bruteforce_intra_cluster_pairs(spark):
    """Independent equality check: the stored-index probe's edge set
    must equal a brute-force intra-cluster pair scan over the SAME
    index, filtered to delta-crossing rows (the oracle states this
    against DuckDB; this pins it Spark-vs-Spark with a different plan)."""
    from kafka_stream_service_spark.queries.round10 import _SEM_TAU2_BP

    idx = SEM_INDEX.build(spark, SF)
    idot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda a, b: a.cast("bigint") * b.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    a = idx.select(
        F.col("vec_id").alias("id_a"),
        F.col("centroid_id").alias("ca"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    b = idx.select(
        F.col("vec_id").alias("id_b"),
        F.col("centroid_id").alias("cb"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    dot = idot(F.col("qa"), F.col("qb"))
    brute = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_b") > F.col("id_a")))
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                10000 * F.col("dot") * F.col("dot")
                >= F.lit(_SEM_TAU2_BP) * F.col("na") * F.col("nb")
            )
        )
        .filter(
            ((F.col("id_a") % _SEM_DELTA_MOD) == _SEM_DELTA_REM)
            | ((F.col("id_b") % _SEM_DELTA_MOD) == _SEM_DELTA_REM)
        )
        .select("id_a", "id_b", "dot")
    )
    want = {(r.id_a, r.id_b, r.dot) for r in brute.collect()}
    got_df = QUERIES["q_semdedup_delta_edges"].spark_fn(spark, SF)
    got = {(r.id_a, r.id_b, r.dot) for r in got_df.collect()}
    assert got == want
    assert len(got) > 0, "fixture must plant semantic near-dups in the delta slice"
    # every emitted edge carries at least one delta endpoint
    bad = [
        r
        for r in got_df.collect()
        if r.id_a % _SEM_DELTA_MOD != _SEM_DELTA_REM
        and r.id_b % _SEM_DELTA_MOD != _SEM_DELTA_REM
    ]
    assert not bad


def test_delta_probe_reads_stored_index(spark):
    from kafka_stream_service_spark.plans import physical_plan

    # plans after building the stored artifact, so it keeps its own build
    SEM_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_semdedup_delta_edges"].spark_fn(spark, SF))
    token = SEM_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "delta probe does not read the stored semantic index"


def test_sem_index_seam_is_a_parquet_scan(spark):
    from kafka_stream_service_spark.plans import physical_plan

    SEM_INDEX.build(spark, SF)
    plan = physical_plan(SEM_INDEX.read(spark, SF))
    token = SEM_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan
    assert "Aggregate" not in plan and "HashAggregate" not in plan, (
        "SEM_INDEX.read re-derives instead of reading the artifact"
    )
