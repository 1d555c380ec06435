"""Arbitrary stateful streaming (SURVEY.md §2.2 "Arbitrary stateful op"):
applyInPandasWithState — per-user running totals maintained in state across
micro-batches. Also covers the R17 observability parity (observe metrics
on the pipeline) and schema'd JSON/CSV + rate sources.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_stream_service_spark.codec import encode_py
from kafka_stream_service_spark.pipeline import PipelineConfig, start_pipeline
from kafka_stream_service_spark.sources import (
    read_binary_files,
    read_csv,
    read_json,
    stream_file_source,
    stream_rate_source,
)
from kafka_stream_service_spark.tables import tables
from kafka_stream_service_spark.transform import uppercase_function


def test_apply_in_pandas_with_state_running_totals(spark, sf_dir, tmp_path):
    """Custom stateful operator: per-user cumulative value across
    micro-batches; state persists between batches (the
    applyInPandasWithState surface)."""
    events = tables(spark, sf_dir)["events"]
    sample = events.orderBy("ts").limit(200).select("user_id", "value", "ts")

    # two chunks -> two micro-batches
    rows = sample.collect()
    half = len(rows) // 2
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()
    schema = sample.schema
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(str(tmp_path / "c0"))
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(str(tmp_path / "c1"))
    now = time.time()
    for i in range(2):
        src = glob.glob(str(tmp_path / f"c{i}" / "*.parquet"))[0]
        dst = str(chunk_dir / f"{i:02d}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (now - 30 + i * 10, now - 30 + i * 10))

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("total", T.DoubleType()), T.StructField("n", T.LongType())]
    )

    def running_total(key, pdfs, state: GroupState):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame({"user_id": [key[0]], "total": [total], "n": [n]})

    stream = stream_file_source(spark, str(chunk_dir), events.schema).select(
        "user_id", "value", "ts"
    )
    result = stream.groupBy("user_id").applyInPandasWithState(
        running_total, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    q = (
        result.writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # final state per user (last update wins) must equal the batch truth
    got = spark.sql(
        "SELECT user_id, max_by(total, n) AS total, max(n) AS n "
        "FROM stateful_totals GROUP BY user_id"
    ).collect()
    truth = {
        r.user_id: (r.total, r.n)
        for r in sample.groupBy("user_id")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(got) == len(truth)
    for r in got:
        t_total, t_n = truth[r.user_id]
        assert r.n == t_n
        assert abs(r.total - t_total) < 1e-6


def test_pipeline_observe_metrics(spark, tmp_path):
    """R17 parity: the decode stage's observe() metrics appear in the
    streaming progress events (records + wire bytes per batch)."""
    msgs = [({}, b"abc"), ({}, b"defgh")]
    rows = [(None, bytearray(encode_py(h, p))) for h, p in msgs]
    spark.createDataFrame(rows, "key binary, value binary").write.parquet(str(tmp_path / "in"))
    cfg = PipelineConfig(
        source="files",
        sink="memory",
        source_path=str(tmp_path / "in"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="observe_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
        metrics = [
            p["observedMetrics"]["decoded"]
            for p in q.recentProgress
            if p.get("observedMetrics", {}).get("decoded")
        ]
    finally:
        q.stop()
    assert metrics, "no observed metrics in progress events"
    # file source may split input across micro-batches (one file/trigger);
    # the totals across batches are the contract
    assert sum(m["n_records"] for m in metrics) == 2
    # wire bytes = framed sizes: 2 bytes preamble + payload each
    assert sum(m["wire_bytes"] for m in metrics) == (2 + 3) + (2 + 5)


def test_schema_json_csv_sources(spark, tmp_path):
    """Schema'd JSON/CSV batch scans (no inference jobs)."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    (tmp_path / "j").mkdir()
    (tmp_path / "j" / "part.json").write_text(
        '{"id": 1, "name": "a", "score": 1.5}\n{"id": 2, "name": "b", "score": 2.5}\n'
    )
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "part.csv").write_text("id,name,score\n3,c,3.5\n4,d,4.5\n")

    j = read_json(spark, str(tmp_path / "j"), schema)
    c = read_csv(spark, str(tmp_path / "c"), schema)
    assert [r.id for r in j.orderBy("id").collect()] == [1, 2]
    assert [r.score for r in c.orderBy("id").collect()] == [3.5, 4.5]
    assert j.schema == schema and c.schema == schema


def test_binary_file_source(spark, tmp_path):
    """binaryFile ingest: one row per media file, glob + size filters
    served from file metadata, content arrives as an opaque binary column
    (the multimodal on-ramp)."""
    (tmp_path / "a.bin").write_bytes(b"\xff\x00media-a" * 10)
    (tmp_path / "b.bin").write_bytes(b"\xff\x00media-bb" * 100)
    (tmp_path / "skip.txt").write_text("not media")

    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {os.path.basename(r.path): r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"].content) == b"\xff\x00media-a" * 10
    assert rows["b.bin"].length == 1000

    small = read_binary_files(spark, str(tmp_path), glob="*.bin", max_bytes_per_file=500)
    assert [os.path.basename(r.path) for r in small.collect()] == ["a.bin"]


def test_rate_source_smoke(spark):
    """The rate synthetic-load source produces rows with the documented
    schema."""
    stream = stream_rate_source(spark, rows_per_second=500)
    q = stream.writeStream.format("memory").queryName("rate_smoke").start()
    try:
        deadline = time.time() + 15
        while time.time() < deadline:
            if spark.sql("SELECT count(*) AS n FROM rate_smoke").collect()[0].n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM rate_smoke").collect()
    assert rows and set(rows[0].asDict()) == {"timestamp", "value"}
