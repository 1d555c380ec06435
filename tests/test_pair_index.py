"""Materialized pair-index snapshot (VERDICT r9 #1): build/read contract.

The oracle gate already hash-certifies q_pair_index_snapshot's
build->persist->read cycle and every consumer's results at sf0.01; these
tests pin what the aggregate oracles cannot state: snapshot == live
derivation row-for-row, a self-healing read, and the pair and bucket
read seams. The lifecycle every stored index shares is in
``tests/test_stored.py``.
"""

from __future__ import annotations

import os
import shutil

from kafka_stream_service_spark.plans import physical_plan
from kafka_stream_service_spark.queries.dedup2 import (
    BUCKET_INDEX,
    PAIR_INDEX,
    _verified_pairs,
)
from kafka_stream_service_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _key_set(df):
    return {(r.id_a, r.id_b, r.n_inter, r.n_union) for r in df.collect()}


def test_snapshot_equals_live_derivation(spark):
    _, live = _verified_pairs(spark, SF)
    snap = PAIR_INDEX.build(spark, SF)
    assert _key_set(snap) == _key_set(live)
    assert len(_key_set(snap)) > 0, "fixture must plant near-dup pairs"


def test_reader_self_heals_when_snapshot_absent(spark):
    shutil.rmtree(os.path.dirname(PAIR_INDEX.path(SF)), ignore_errors=True)
    assert not os.path.exists(PAIR_INDEX.path(SF))
    got = PAIR_INDEX.read(spark, SF)
    # the read built and persisted the artifact as a side effect
    assert os.path.exists(os.path.join(PAIR_INDEX.path(SF), "_SUCCESS"))
    _, live = _verified_pairs(spark, SF)
    assert _key_set(got) == _key_set(live)


def test_reader_prefers_existing_snapshot(spark):
    PAIR_INDEX.build(spark, SF)
    path = PAIR_INDEX.path(SF)
    before = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    PAIR_INDEX.read(spark, SF).count()
    after = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    assert before == after, "a fresh read must not rewrite the artifact"


def test_expression_signature_equals_typed_signature(spark):
    """portable_minhash_signature (the per-row expression form the
    streaming probe signs with) must be bit-identical to
    typed_minhash_signatures (the batch type-dictionary form every
    oracle certifies). Pins the r11 lambda-arity regression: a
    `lambda s, i=i` default-arg binding reads as two-arg to transform(),
    which silently swaps the seed for the array position."""
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.operators.dedup import word_shingles_from_tokens
    from kafka_stream_service_spark.queries.dedup2 import (
        K,
        SHINGLE_N,
        portable_minhash_signature,
        typed_minhash_signatures,
    )
    from kafka_stream_service_spark.tables import tables

    d = tables(spark, SF)["documents"].select("doc_id", "text").limit(50)
    sh = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
    )
    expr_sigs = {
        r.doc_id: tuple(r.sig)
        for r in sh.select(
            "doc_id", portable_minhash_signature(F.col("shingles"), K).alias("sig")
        ).collect()
    }
    typed_sigs = {
        r.doc_id: tuple(r.sig) for r in typed_minhash_signatures(sh, K).collect()
    }
    assert expr_sigs == typed_sigs


def test_pair_consumers_scan_the_snapshot(spark):
    """Consumers must READ the persisted pair index, not re-derive the
    LSH pipeline. The consumers' own plans hide the scan behind a
    lineage-truncating localCheckpoint (Scan ExistingRDD), so assert at
    the PAIR_INDEX.read seam they all call: with the artifact present,
    its plan is a parquet scan of the snapshot path and contains NO
    aggregation (the derivation's signature shape)."""
    PAIR_INDEX.build(spark, SF)
    plan = physical_plan(PAIR_INDEX.read(spark, SF))
    token = PAIR_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "PAIR_INDEX.read does not scan the snapshot path"
    assert "Aggregate" not in plan and "HashAggregate" not in plan, (
        "PAIR_INDEX.read re-derives instead of reading the artifact"
    )


def test_bucket_index_seam_is_a_parquet_scan(spark):
    """BUCKET_INDEX.read with the artifact present must be a pure
    parquet read of the banded table — no signature derivation
    (aggregate) anywhere in its plan."""
    BUCKET_INDEX.build(spark, SF)
    plan = physical_plan(BUCKET_INDEX.read(spark, SF))
    token = BUCKET_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "BUCKET_INDEX.read does not scan the stored artifact"
    assert "Aggregate" not in plan and "HashAggregate" not in plan, (
        "BUCKET_INDEX.read re-derives instead of reading the artifact"
    )


def test_delta_probe_reads_stored_buckets(spark):
    """q_pair_index_delta (VERDICT r10 #2) must probe the STORED bucket
    index: with the artifact present, its plan scans the buckets
    parquet directly (the probe side's shingle scans hide behind
    localCheckpoint, but the stored side is a plain read)."""
    # plans after building the stored artifact, so it keeps its own build
    BUCKET_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_pair_index_delta"].spark_fn(spark, SF))
    token = BUCKET_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "delta probe does not read the stored bucket index"
