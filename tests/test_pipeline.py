"""Pipeline parity tests (SURVEY.md §5 items 4-5): the reference's
decode -> uppercase -> encode demo behavior end-to-end, batch and
streaming, plus checkpoint restart and the fault path.
"""

from __future__ import annotations

import glob
import io
import os
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_stream_service_spark.codec import PREFIX_CACHE_MAX, decode_py, encode_py
from kafka_stream_service_spark.eos import ForeachBatchIdempotentWriter
from kafka_stream_service_spark.pipeline import (
    PipelineConfig,
    run_pipeline_batch,
    run_pipeline_with_dlq,
    start_pipeline,
)
from kafka_stream_service_spark.plans import physical_plan
from kafka_stream_service_spark.plans.barrier import recording
from kafka_stream_service_spark.plans.inspect import _PY_NODES, _tree_nodes
from kafka_stream_service_spark.transform import (
    identity_function,
    uppercase_function,
)

MESSAGES = [
    ({"Accept": ["*/*"], "Content-Type": ["text/plain"]}, b"World"),
    ({}, b"hello spark"),
    ({"x": ["1", "2"]}, b"MiXeD CaSe 123"),
]


def wire_frames_df(spark, messages=MESSAGES):
    rows = [(None, bytearray(encode_py(h, p))) for h, p in messages]
    return spark.createDataFrame(rows, "key binary, value binary")


def decode_outputs(rows):
    return [decode_py(bytes(r.value)) for r in rows]


def test_batch_pipeline_uppercase_parity(spark):
    """decode -> uppercase -> encode matches the reference demo: payload
    uppercased, headers preserved, key null (R6-R11)."""
    out = run_pipeline_batch(wire_frames_df(spark), uppercase_function).collect()
    assert all(r.key is None for r in out)
    decoded = decode_outputs(out)
    assert sorted(p for _, p in decoded) == sorted(
        p.decode().upper().encode() for _, p in MESSAGES
    )
    by_payload = {p: h for h, p in decoded}
    assert by_payload[b"WORLD"] == {"Accept": ["*/*"], "Content-Type": ["text/plain"]}


def test_dlq_pipeline_splits_poison_messages(spark):
    """A malformed frame (bad marker / truncated header section) must
    land in the dead-letter frame with the raw bytes and an error
    string, while every good record flows through transform->encode
    exactly as in the strict pipeline — one poison message must never
    kill the stream (the reference's strict deserializer + restart loop
    would crash-cycle forever on it)."""
    good_rows = [(None, bytearray(encode_py(h, p))) for h, p in MESSAGES]
    poison = [
        (None, bytearray(b"\x00not-a-frame")),  # missing 0xff marker
        (None, bytearray(b"\xff\x05trunc")),  # header count points past end
    ]
    frames = spark.createDataFrame(good_rows + poison, "key binary, value binary")
    out, dead = run_pipeline_with_dlq(frames, uppercase_function)
    assert sorted(p for _, p in decode_outputs(out.collect())) == sorted(
        p.decode().upper().encode() for _, p in MESSAGES
    )
    dead_rows = dead.collect()
    assert {bytes(r.value) for r in dead_rows} == {bytes(v) for _, v in poison}
    assert all(r.error for r in dead_rows)


# Repeated header shapes exercise both prefix caches' hit paths; the
# empty payload, multi-value and non-ASCII headers their edges.
PARITY_MESSAGES = [
    ({"type": ["click"]}, f"event {i} MiXeD".encode()) for i in range(6)
] + [
    ({"type": ["click"]}, b""),
    ({"type": ["view"], "id": ["7", "8"]}, b"\xc3\xa9t\xc3\xa9"),
    ({}, b'["a header blob"]'),
    ({"lang": ["fran\u00e7ais"]}, b"bonjour"),
] + MESSAGES


def reference_outputs(messages, fn, enabled=True):
    """The spine computed on the driver, one record at a time, with the
    plain codec: encode_py(fn(decode_py(frame))) under a null key."""
    out = []
    for frame in (encode_py(h, p) for h, p in messages):
        h, p = decode_py(frame)
        if enabled and fn is not None:
            row = fn(pd.DataFrame({"headers": [h], "payload": [p]}))
            h, p = row["headers"].iloc[0], row["payload"].iloc[0]
        out.append(encode_py(h, p))
    return out


@pytest.mark.parametrize(
    "fn,enabled",
    [(uppercase_function, True), (identity_function, True), (uppercase_function, False)],
)
def test_spine_byte_parity_with_driver_reference(spark, fn, enabled):
    """The spine body must emit, frame for frame and in input order
    (1-in-1-out), the bytes of an independent driver-side loop over
    ``decode_py``/``encode_py`` — for the transform, the identity
    function and the disabled slot (R9), and on the DLQ good lane."""
    frames = wire_frames_df(spark, PARITY_MESSAGES)
    expect = reference_outputs(PARITY_MESSAGES, fn, enabled)
    out = run_pipeline_batch(frames, fn, enabled=enabled).collect()
    assert all(r.key is None for r in out)
    assert [bytes(r.value) for r in out] == expect

    poison = spark.createDataFrame([(None, bytearray(b"\x00bad"))], "key binary, value binary")
    good, dead = run_pipeline_with_dlq(frames.union(poison), fn, enabled=enabled)
    assert [bytes(r.value) for r in good.collect()] == expect
    assert [bytes(r.value) for r in dead.collect()] == [b"\x00bad"]


def test_spine_past_the_prefix_cache_bound(spark):
    """More distinct header sets in one task than its prefix caches
    hold (a unique correlation id per record): the body keeps every
    frame exact past the cache limit."""
    msgs = [({"id": [str(i)]}, b"event %d" % i) for i in range(PREFIX_CACHE_MAX + 300)]
    frames = wire_frames_df(spark, msgs).coalesce(1)
    out = run_pipeline_batch(frames, uppercase_function).collect()
    assert [bytes(r.value) for r in out] == reference_outputs(msgs, uppercase_function)


def _python_nodes(plan: str) -> list[str]:
    """Names of the Python operators in a formatted physical plan tree."""
    names = [title.split()[0] for _, title, _ in _tree_nodes(plan)]
    return [n for n in names if n in _PY_NODES]


def _streaming_python_nodes(explained: str) -> list[str]:
    """The same for ``StreamingQuery.explain()``, whose simple-mode tree
    has no node ids for ``_tree_nodes`` to parse."""
    tree = explained.split("== Physical Plan ==")[-1]
    names = [ln.lstrip(" :+-*()0123456789").split(" ", 1)[0] for ln in tree.splitlines()]
    return [n for n in names if n in _PY_NODES]


def test_spine_plans_hold_one_python_map(spark, tmp_path):
    """Guard against re-forking the spine: streaming, batch and
    dead-letter plans each run decode -> fn -> encode as exactly ONE
    Python map node, with no per-column Arrow UDF beside it."""
    frames = wire_frames_df(spark)
    batch = run_pipeline_batch(frames, uppercase_function)
    assert _python_nodes(physical_plan(batch)) == ["MapInPandas"]

    # the DLQ lanes read a barrier; the body is the frame it cuts
    with recording() as cut:
        good, dead = run_pipeline_with_dlq(frames, uppercase_function)
    assert len(cut) == 1
    assert _python_nodes(cut[0]) == ["MapInPandas"]
    assert _python_nodes(physical_plan(good)) == _python_nodes(physical_plan(dead)) == []

    src = tmp_path / "in"
    frames.write.parquet(str(src))
    cfg = PipelineConfig(
        source="files",
        sink="memory",
        source_path=str(src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="pipe_plan_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
        buf = io.StringIO()
        with redirect_stdout(buf):
            q.explain()
    finally:
        q.stop()
    assert _streaming_python_nodes(buf.getvalue()) == ["MapInPandas"], buf.getvalue()


def test_identity_bypass(spark):
    """R9: enabled=False skips the transform stage entirely — output equals
    input bytes."""
    frames = wire_frames_df(spark)
    out = run_pipeline_batch(frames, uppercase_function, enabled=False).collect()
    in_values = sorted(bytes(r.value) for r in frames.collect())
    out_values = sorted(bytes(r.value) for r in out)
    assert out_values == in_values


def test_streaming_pipeline_files_to_memory(spark, tmp_path):
    """The full streaming spine over a file source into a memory sink."""
    src = tmp_path / "in"
    wire_frames_df(spark).write.parquet(str(src))
    cfg = PipelineConfig(
        source="files",
        sink="memory",
        source_path=str(src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="pipe_mem_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM pipe_mem_test").collect()
    assert len(rows) == len(MESSAGES)
    payloads = sorted(p for _, p in decode_outputs(rows))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)


def test_streaming_restart_no_dups_no_loss(spark, tmp_path):
    """R13/R14: stop the query, add more input, restart from checkpoint —
    every input appears exactly once across both runs (epoch-idempotent
    eos-files sink + checkpoint replay)."""
    src = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    wire_frames_df(spark, MESSAGES[:2]).write.parquet(str(src))

    cfg = PipelineConfig(
        source="files",
        sink="eos-files",
        source_path=str(src),
        output_dir=str(out_dir),
        checkpoint_dir=str(ckpt),
        query_name="pipe_restart_test",
    )
    q = start_pipeline(spark, cfg, uppercase_function)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second wave lands while the query is down
    wire_frames_df(spark, MESSAGES[2:]).write.mode("append").parquet(str(src))
    q2 = start_pipeline(spark, cfg, uppercase_function)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    batch_dirs = glob.glob(os.path.join(str(out_dir), "batch_id=*"))
    assert batch_dirs, "no epoch outputs written"
    all_rows = spark.read.parquet(*batch_dirs).collect()
    payloads = sorted(p for _, p in decode_outputs(all_rows))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)


def test_eos_writer_epoch_idempotent(spark, tmp_path):
    """A replayed epoch (same batchId) must not duplicate output — the
    foreachBatch exactly-once contract (R12)."""
    writer = ForeachBatchIdempotentWriter(str(tmp_path / "eos"))
    df = spark.range(5).select(F.col("id"))
    writer(df, 7)
    writer(df, 7)  # replay of the same epoch
    out = spark.read.parquet(str(tmp_path / "eos" / "batch_id=7")).collect()
    assert len(out) == 5
    assert writer.committed_epochs() == {7}


def test_fault_path_retry_after_planned_failure(spark, tmp_path):
    """The reference's planned-exception trick (commented fault injection
    at StreamsApplication.java:193): first attempt of a batch throws, the
    restart re-runs the same epoch from the checkpoint, output stays
    exactly-once."""
    src = tmp_path / "in"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    wire_frames_df(spark).write.parquet(str(src))

    marker = tmp_path / "fail_once"
    marker.write_text("arm")

    def failing_once(batch):
        if marker.exists():
            marker.unlink()
            raise RuntimeError("Planned")  # the reference's fault message
        return uppercase_function(batch)

    cfg = PipelineConfig(
        source="files",
        sink="eos-files",
        source_path=str(src),
        output_dir=str(out_dir),
        checkpoint_dir=str(ckpt),
        query_name="pipe_fault_test",
    )
    q = start_pipeline(spark, cfg, failing_once)
    with pytest.raises(Exception):
        q.processAllAvailable()
        q.awaitTermination(10)
    q.stop()

    # supervised restart (R14): resume from checkpoint, same epoch re-runs
    q2 = start_pipeline(spark, cfg, failing_once)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    batch_dirs = glob.glob(os.path.join(str(out_dir), "batch_id=*"))
    all_rows = spark.read.parquet(*batch_dirs).collect()
    payloads = sorted(p for _, p in decode_outputs(all_rows))
    assert payloads == sorted(p.decode().upper().encode() for _, p in MESSAGES)
