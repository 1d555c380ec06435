"""Streaming-semantics tests (SURVEY.md §5 item 3): chunked replay of the
events fixture through a file-stream source; watermark late-data drop,
tumbling windows vs the batch oracle, session windows, streaming dedup,
and stream-static join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_stream_service_spark.sources import stream_file_source
from kafka_stream_service_spark.streaming import (
    sessionized,
    stream_static_join,
    streaming_dedup,
    windowed_agg,
)
from kafka_stream_service_spark.tables import tables


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return tables(spark, sf_dir)["events"].cache()


@pytest.fixture()
def events_chunks_dir(spark, events_batch, tmp_path):
    """events split into 4 timestamp-ordered parquet chunks — replayed one
    file per micro-batch (deterministic event-time progression)."""
    out = tmp_path / "chunks"
    n = events_batch.count()
    ordered = events_batch.orderBy("ts").withColumn(
        "chunk", F.floor(F.row_number().over(__import__("pyspark").sql.Window.orderBy("ts")) * 4 / (n + 1))
    )
    for i in range(4):
        (
            ordered.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.parquet(str(out / f"chunk_{i}"))
        )
    # flatten: the file source reads a flat dir; move part files up
    import glob as g
    import shutil

    flat = tmp_path / "flat"
    flat.mkdir()
    for i in range(4):
        for j, f in enumerate(sorted(g.glob(str(out / f"chunk_{i}" / "*.parquet")))):
            shutil.copy(f, str(flat / f"{i:02d}_{j}.parquet"))
    return str(flat)


def run_stream(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_window_stream_matches_batch(spark, events_batch, events_chunks_dir):
    """Streamed tumbling-window counts (after all data arrives) equal the
    batch group-by — completeness of the streaming path."""
    stream = stream_file_source(spark, events_chunks_dir, events_batch.schema)
    agg = windowed_agg(stream, watermark="10 minutes", window_size="1 hour")
    got = run_stream(spark, agg, "tumbling_stream_test").collect()

    expected = (
        events_batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    got_map = {(r.window_start, r.event_type): r.n_events for r in got}
    exp_map = {(r.window.start, r.event_type): r.n_events for r in expected}
    # append mode emits only watermark-closed windows; every emitted window
    # must match the batch truth, and most windows must have closed
    assert got_map
    for k, v in got_map.items():
        assert exp_map[k] == v, k
    assert len(got_map) >= 0.9 * len(exp_map)


def test_watermark_drops_late_data(spark, events_batch, tmp_path):
    """An event older than the watermark horizon arriving in a later batch
    is dropped from its (already closed) window.

    Watermark propagation in the micro-batch engine is one batch delayed
    (the watermark used by batch N comes from data through batch N-1 and
    takes effect for filtering once committed), so the straggler arrives
    two batches after the bulk data with a fresh event in between.
    """
    import glob as g
    import os
    import shutil
    import time

    ordered = events_batch.orderBy("ts")
    first = ordered.limit(500)
    rows = first.collect()
    max_ts = max(r.ts for r in rows)
    min_ts = min(r.ts for r in rows)
    # a fresh (on-time) event that keeps the watermark advanced in batch 1
    fresh = first.orderBy(F.col("ts").desc()).limit(1)
    # the straggler: the earliest event re-delivered long after its window
    straggler = ordered.limit(1)

    late_dir = tmp_path / "late"
    late_dir.mkdir()
    first.coalesce(1).write.parquet(str(tmp_path / "b0"))
    fresh.coalesce(1).write.parquet(str(tmp_path / "b1"))
    straggler.coalesce(1).write.parquet(str(tmp_path / "b2"))
    now = time.time()
    for i, b in enumerate(["b0", "b1", "b2"]):
        src = g.glob(str(tmp_path / b / "*.parquet"))[0]
        dst = str(late_dir / f"{i:02d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now - 60 + i * 10, now - 60 + i * 10))

    stream = stream_file_source(spark, str(late_dir), events_batch.schema)
    agg = windowed_agg(stream, watermark="10 minutes", window_size="1 hour")
    got = run_stream(spark, agg, "late_drop_test").collect()

    # truth over batch-0 data + the fresh duplicate (straggler dropped):
    exp: dict = {}
    for r in rows + fresh.collect():
        start = r.ts.replace(minute=0, second=0, microsecond=0)
        exp[(start, r.event_type)] = exp.get((start, r.event_type), 0) + 1
    got_map = {(r.window_start, r.event_type): r.n_events for r in got}
    key_window = min_ts.replace(minute=0, second=0, microsecond=0)
    assert max_ts - min_ts > __import__("datetime").timedelta(hours=2)
    emitted = {k: n for k, n in got_map.items() if k[0] == key_window}
    assert emitted, "straggler's window never emitted"
    for k, n in emitted.items():
        assert n == exp[k], f"late duplicate leaked into closed window {k}"


def test_session_window_stream(spark, events_batch, events_chunks_dir):
    """Streaming session windows match the batch session_window result."""
    stream = stream_file_source(spark, events_chunks_dir, events_batch.schema)
    sess = sessionized(stream, watermark="2 hours", gap="30 minutes")
    got = run_stream(spark, sess, "session_stream_test").collect()

    exp = (
        events_batch.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    exp_map = {(r.user_id, r.session_window.start): r.n_events for r in exp}
    assert got
    for r in got:
        assert exp_map.get((r.user_id, r.session_start)) == r.n_events


def test_streaming_dedup_within_watermark(spark, events_batch, tmp_path):
    """Duplicate event_ids delivered twice within the watermark horizon
    surface exactly once."""
    import glob as g
    import shutil

    sample = events_batch.orderBy("ts").limit(100)
    dup_dir = tmp_path / "dups"
    dup_dir.mkdir()
    sample.coalesce(1).write.parquet(str(tmp_path / "d0"))
    # identical redelivery in a second micro-batch
    shutil.copy(g.glob(str(tmp_path / "d0" / "*.parquet"))[0], str(dup_dir / "00.parquet"))
    shutil.copy(g.glob(str(tmp_path / "d0" / "*.parquet"))[0], str(dup_dir / "01.parquet"))

    stream = stream_file_source(spark, str(dup_dir), events_batch.schema)
    deduped = streaming_dedup(stream, watermark="2 hours", keys=("event_id",))
    got = run_stream(spark, deduped, "dedup_stream_test").collect()
    assert len(got) == 100
    assert len({r.event_id for r in got}) == 100


def test_stream_static_join(spark, events_batch, events_chunks_dir, sf_dir):
    """Stream-static enrichment join: every streamed event picks up its
    user's dimension row (customer used as the user dim)."""
    dim = (
        tables(spark, sf_dir)["customer"]
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = stream_file_source(spark, events_chunks_dir, events_batch.schema)
    joined = stream_static_join(stream, dim, on="user_id", how="inner")
    got = run_stream(spark, joined, "ss_join_test")
    n_events_with_dim = (
        events_batch.join(dim, "user_id", "inner").count()
    )
    assert got.count() == n_events_with_dim


def test_streaming_dedup_rocksdb_state_store(spark, events_batch, tmp_path):
    """The same dedup pipeline on the RocksDB state store provider — the
    state backend that holds at 100 TB key cardinalities (bounded heap,
    native memtable/SST) where the HDFS-backed in-memory map OOMs. The
    engine's session default is already RocksDB; the replay runner pins
    it for this run and restores the session's provider after."""
    import glob as g
    import shutil

    from kafka_stream_service_spark.queries.streaming_replay import run_replay
    from kafka_stream_service_spark.session import ROCKSDB_STATE_PROVIDER

    sample = events_batch.orderBy("ts").limit(200)
    dup_dir = tmp_path / "dups"
    dup_dir.mkdir()
    sample.coalesce(1).write.parquet(str(tmp_path / "d0"))
    shutil.copy(g.glob(str(tmp_path / "d0" / "*.parquet"))[0], str(dup_dir / "00.parquet"))
    shutil.copy(g.glob(str(tmp_path / "d0" / "*.parquet"))[0], str(dup_dir / "01.parquet"))

    stream = stream_file_source(spark, str(dup_dir), events_batch.schema)
    deduped = streaming_dedup(stream, watermark="2 hours", keys=("event_id",))
    got = run_replay(
        spark, deduped, str(tmp_path), state_provider=ROCKSDB_STATE_PROVIDER
    ).collect()
    assert len(got) == 200
    assert len({r.event_id for r in got}) == 200


def test_continuous_aggregate_replay_is_idempotent(spark, events_batch, events_chunks_dir, tmp_path):
    """The incremental materialization must converge: replaying the whole
    stream from scratch (fresh checkpoint, same output path) rewrites the
    same partitions with the same content instead of duplicating — the
    dynamic-partition overwrite IS the upsert."""
    from kafka_stream_service_spark.sources import stream_file_source
    from kafka_stream_service_spark.streaming import (
        continuous_aggregate,
        read_continuous_aggregate,
    )

    mat = str(tmp_path / "mat")

    def run(ck: str):
        stream = stream_file_source(spark, events_chunks_dir, events_batch.schema)
        q = (
            continuous_aggregate(stream, mat, window_size="1 day")
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r.window_start, r.event_type): (r.n_events, round(r.sum_value, 2))
            for r in read_continuous_aggregate(spark, mat, 86400).collect()
        }

    first = run("ck1")
    second = run("ck2")  # full replay into the same materialization
    assert first == second
    truth = {
        (r.d, r.event_type): (r.n, round(r.sv, 2))
        for r in events_batch.groupBy(
            F.date_trunc("day", "ts").alias("d"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sv"),
        )
        .collect()
    }
    assert first == truth
