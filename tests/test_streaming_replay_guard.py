"""The replay runner's contract (``streaming_replay.run_replay``).

The runner defaults replay runs to the HDFSBacked (in-memory) state
provider, which is safe only because every replay fixture delivers a
bounded number of micro-batches (VERDICT r15 next-steps #8). The first
two tests pin both sides of that contract: an over-budget fixture trips
the guard (red path), and a budget-sized fixture passes through it with
the correct result (the guard must not fire on the real replay
schedules). The last one pins the runner's harness-vs-stream time split
on a foreachBatch row and on an availableNow row that lands its files
through the runner.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_stream_service_spark.queries import streaming_replay
from kafka_stream_service_spark.queries.registry import QUERIES
from kafka_stream_service_spark.queries.streaming_replay import (
    REPLAY_MAX_MICRO_BATCHES,
    _write_chunks,
    run_replay,
)


def _replay_count_stream(spark, tmp_path, n_chunks: int):
    """A trivial n-chunk replay: each chunk is a distinct single row;
    the stream is a stateless projection, so the only thing under test
    is the micro-batch accounting."""
    df = spark.range(n_chunks).select(
        F.col("id").cast("bigint").alias("k"), F.lit(1).cast("bigint").alias("v")
    )
    chunks = [df.filter(F.col("k") == i) for i in range(n_chunks)]
    base = str(tmp_path)
    flat = _write_chunks(chunks, base)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    return stream.select("k", "v"), base


def test_over_budget_fixture_trips_the_guard(spark, tmp_path):
    n = REPLAY_MAX_MICRO_BATCHES + 1  # data batches alone exceed the budget
    stream, base = _replay_count_stream(spark, tmp_path / "over", n)
    with pytest.raises(RuntimeError, match="micro-batches, over the"):
        run_replay(spark, stream, base, shuffle_partitions=2)


def test_budget_sized_fixture_passes_the_guard(spark, tmp_path):
    n = 3  # the common replay schedule size (2 data chunks + sentinel)
    stream, base = _replay_count_stream(spark, tmp_path / "under", n)
    keys = ["spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass"]
    before = [spark.conf.get(k) for k in keys]
    out = run_replay(spark, stream, base, shuffle_partitions=2)
    assert sorted(r.k for r in out.collect()) == list(range(n))
    assert [spark.conf.get(k) for k in keys] == before  # the run's scope ends with it


@pytest.mark.parametrize(
    "name", ["q_stream_merge_sink_replay", "q_stream_available_now_incremental"]
)
def test_replay_rows_split_harness_and_stream_time(spark, sf_dir, name):
    streaming_replay.LAST_TIMINGS.update(write_chunks_sec=0.0, stream_run_sec=0.0)
    QUERIES[name].spark_fn(spark, sf_dir).collect()
    timings = dict(streaming_replay.LAST_TIMINGS)
    assert timings["stream_run_sec"] > 0, timings
    assert timings["write_chunks_sec"] > 0, timings
