"""Python DataSource connector (sources/wiredump.py): format contract,
commit protocol hygiene, and corruption detection — the properties the
driver's aggregate-level oracle (q_wiredump_roundtrip) cannot state.
"""

from __future__ import annotations

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F

from kafka_stream_service_spark.codec import decode_py, encode_py
from kafka_stream_service_spark.queries._util import work_dir
from kafka_stream_service_spark.sources.wiredump import register

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def seg_dir(spark):
    register(spark)
    return os.path.join(work_dir("wiredump_t", SF), "seg")


def _frames(spark, n=20):
    from kafka_stream_service_spark.tables import tables

    ev = tables(spark, SF)["events"].orderBy("event_id").limit(n)
    return ev.select(
        F.create_map(F.lit("type"), F.array(F.col("event_type"))).alias("headers"),
        F.encode(F.col("props"), "utf-8").alias("payload"),
    )


def test_roundtrip_preserves_every_frame(spark, seg_dir):
    src = _frames(spark).collect()
    _frames(spark).repartition(3).write.format("wiredump").mode("append").save(seg_dir)
    back = spark.read.format("wiredump").load(seg_dir).collect()
    assert len(back) == len(src)
    want = sorted((r.headers["type"][0], bytes(r.payload)) for r in src)
    got = sorted((r.headers["type"][0], bytes(r.payload)) for r in back)
    assert want == got


def test_commit_leaves_no_temp_files(spark, seg_dir):
    _frames(spark).repartition(3).write.format("wiredump").mode("append").save(seg_dir)
    assert not glob.glob(os.path.join(seg_dir, "_tmp_*"))
    assert len(glob.glob(os.path.join(seg_dir, "*.wiredump"))) == 3


def test_partitions_map_one_to_one_to_segments(spark, seg_dir):
    _frames(spark).repartition(4).write.format("wiredump").mode("append").save(seg_dir)
    files = spark.read.format("wiredump").load(seg_dir).select("_file").distinct()
    assert files.count() == 4


def test_truncated_segment_raises(spark, seg_dir):
    _frames(spark, 5).coalesce(1).write.format("wiredump").mode("append").save(seg_dir)
    (seg,) = glob.glob(os.path.join(seg_dir, "*.wiredump"))
    raw = open(seg, "rb").read()
    open(seg, "wb").write(raw[:-3])  # chop mid-frame
    with pytest.raises(Exception) as ei:
        spark.read.format("wiredump").load(seg_dir).collect()
    assert "truncated" in str(ei.value)


def test_segment_bytes_are_the_documented_format(spark, seg_dir):
    """Independent parse: the file must be exactly repeated
    [>I length][codec frame] records decodable by codec.decode_py."""
    _frames(spark, 7).coalesce(1).write.format("wiredump").mode("append").save(seg_dir)
    (seg,) = glob.glob(os.path.join(seg_dir, "*.wiredump"))
    raw = open(seg, "rb").read()
    off, n = 0, 0
    while off < len(raw):
        (ln,) = struct.unpack(">I", raw[off : off + 4])
        frame = raw[off + 4 : off + 4 + ln]
        headers, payload = decode_py(frame)
        assert set(headers) == {"type"}
        # frame re-encodes byte-identically (codec golden property)
        assert encode_py(headers, payload) == frame
        off += 4 + ln
        n += 1
    assert n == 7 and off == len(raw)


def test_stream_source_resumes_without_duplication(spark, seg_dir):
    """Exactly-once across restart: consume segment 1, STOP the query,
    add segment 2, restart from the same checkpoint — final counts must
    equal the union exactly (no re-read of segment 1, no skip of 2).
    Also pins the round-6 fix: segments COMMITTED later must sort after
    consumed ones (commit-time monotonic naming), or the offset slides."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    def frames(lo, hi):
        from kafka_stream_service_spark.tables import tables

        ev = (
            tables(spark, SF)["events"]
            .orderBy("event_id")
            .limit(hi)
            .filter(F.col("event_id") >= lo)
        )
        return ev.select(
            F.create_map(F.lit("type"), F.array(F.col("event_type"))).alias(
                "headers"
            ),
            F.encode(F.col("props"), "utf-8").alias("payload"),
        )

    base = os.path.dirname(seg_dir)
    ckpt = os.path.join(base, "ckpt")
    name = f"wdres_{_uuid.uuid4().hex[:8]}"

    frames(0, 40).coalesce(1).write.format("wiredump").mode("append").save(seg_dir)

    def run_until_quiet(qname):
        q = (
            spark.readStream.format("wiredump")
            .load(seg_dir)
            .groupBy(F.element_at("headers", "type").getItem(0).alias("t"))
            .count()
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_until_quiet(name)  # consumes segment 1, commits offset
    frames(40, 90).coalesce(1).write.format("wiredump").mode("append").save(seg_dir)
    run_until_quiet(name + "b")  # restart from checkpoint
    got = {
        r.t: r["count"] for r in spark.table(name + "b").collect()
    }
    want = {
        r.t: r.n
        for r in frames(0, 90)
        .select(F.element_at("headers", "type").getItem(0).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # monotonic naming: committed order == sorted order
    segs = sorted(glob.glob(os.path.join(seg_dir, "*.wiredump")))
    assert len(segs) == 2
    assert segs == sorted(segs, key=os.path.getmtime)


def test_stream_sink_epoch_replay_is_idempotent(spark, seg_dir):
    """Crash-replay discipline of the streaming sink: committing the
    SAME epoch twice (fresh task temp files each time — the post-crash
    re-execution) must converge to the same final segment set, not
    append duplicates; a different epoch appends."""
    from kafka_stream_service_spark.sources.wiredump import (
        WireDumpStreamWriter,
        _SegmentCommit,
    )

    w = WireDumpStreamWriter({"path": seg_dir})

    def fake_epoch_files(tag):
        msgs = []
        for i in range(2):
            p = os.path.join(seg_dir, f"_tmp_{tag}_{i}")
            with open(p, "wb") as f:
                frame = encode_py({"t": ["x"]}, f"{tag}:{i}".encode())
                f.write(struct.pack(">I", len(frame)))
                f.write(frame)
            msgs.append(_SegmentCommit(partition_id=i, tmp_path=p))
        return msgs

    w.commit(fake_epoch_files("a"), batchId=7)
    first = sorted(glob.glob(os.path.join(seg_dir, "*.wiredump")))
    w.commit(fake_epoch_files("b"), batchId=7)  # replay of epoch 7
    second = sorted(glob.glob(os.path.join(seg_dir, "*.wiredump")))
    assert first == second  # same names, replaced in place
    w.commit(fake_epoch_files("c"), batchId=8)
    third = sorted(glob.glob(os.path.join(seg_dir, "*.wiredump")))
    assert len(third) == len(second) + 2
    assert third == sorted(third)  # epoch names keep append-only order
    assert not glob.glob(os.path.join(seg_dir, "_tmp_*"))


def test_segments_are_reproducible(spark, seg_dir, tmp_path):
    """Writing the same repartitioned frame twice yields byte-identical
    segments in the same order: commits number segments by task
    partition id, not by their random temp names. The stream sink's
    epoch names match exactly; the batch writer's names differ only in
    the commit-time base that keeps appends sorted."""

    def segments(d):
        return [
            (os.path.basename(p), open(p, "rb").read())
            for p in sorted(glob.glob(os.path.join(d, "*.wiredump")))
        ]

    frames = _frames(spark, n=40).repartition(4)
    batch = []
    for d in ("a", "b"):
        frames.write.format("wiredump").mode("append").save(os.path.join(seg_dir, d))
        batch.append([(name.rsplit("-", 1)[1], data) for name, data in segments(
            os.path.join(seg_dir, d))])
    assert len(batch[0]) == 4 and batch[0] == batch[1]

    src = str(tmp_path / "src")
    _frames(spark, n=40).write.parquet(src)
    stream = []
    for d in ("c", "d"):
        q = (
            spark.readStream.schema(_frames(spark).schema).parquet(src)
            .repartition(4)
            .writeStream.format("wiredump")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{d}"))
            .trigger(availableNow=True)
            .start(os.path.join(seg_dir, d))
        )
        q.awaitTermination()
        stream.append(segments(os.path.join(seg_dir, d)))
    assert len(stream[0]) == 4 and stream[0] == stream[1]


def test_arrow_reader_chunks_large_segments(spark, seg_dir):
    """The Arrow reader must split one segment into MULTIPLE record
    batches past the chunk boundary, and the chunking must be invisible:
    every frame present exactly once with positions contiguous per file.
    (Pins the flush path of _decode_segment_batches — an off-by-one at
    the chunk seam would drop or duplicate a frame silently.)"""
    from kafka_stream_service_spark.sources import wiredump as wd

    # shrink the chunk size so the fixture crosses several boundaries
    orig = wd._ARROW_CHUNK_ROWS
    frames = _frames(spark, n=25)
    frames.coalesce(1).write.format("wiredump").mode("append").save(seg_dir)
    (seg,) = glob.glob(os.path.join(seg_dir, "*.wiredump"))
    try:
        wd._ARROW_CHUNK_ROWS = 7  # 25 frames -> batches of 7,7,7,4
        batches = list(wd._decode_segment_batches(seg, chunk_rows=7))
    finally:
        wd._ARROW_CHUNK_ROWS = orig
    assert [b.num_rows for b in batches] == [7, 7, 7, 4]
    poss = [p for b in batches for p in b.column(3).to_pylist()]
    assert poss == list(range(25))  # contiguous, no gap or repeat at seams
    # and the full read through Spark agrees with the source frame count
    assert spark.read.format("wiredump").load(seg_dir).count() == 25


def test_null_payload_fails_loud(spark, seg_dir):
    """The wire format has no null marker — a NULL payload must raise at
    write time (ADVICE r9: the Arrow writer briefly coerced None to b'',
    silently round-tripping NULL as empty binary)."""
    bad = _frames(spark, n=4).withColumn(
        "payload", F.when(F.rand(seed=7) < 2.0, F.lit(None).cast("binary"))
    )
    with pytest.raises(Exception, match="NULL payload"):
        bad.coalesce(1).write.format("wiredump").mode("append").save(seg_dir)
