"""Chaos pass on the round-6 replay sinks (VERDICT r6 next-steps #5).

The replay oracles are deterministic by construction; these variants
prove they stay deterministic across a CRASH. The replay runner's
``chaos_kill_first_run`` argument makes the first run raise after a
micro-batch's sink function has fully applied but before Spark records
the epoch commit — the exact window exactly-once sinks exist for — then
a second run resumes from the same checkpoint and re-delivers that
epoch. The test
then compares the query's output to its DuckDB oracle, so a
double-applied epoch (log rows doubled, merge re-applied, HLL partial
landed twice) flips the same hash the driver checks.

Extends test_streaming_restart_no_dups_no_loss to the three round-6
sink modes: pointer-swap MERGE, dual-sink fan-out, HLL partial merge.
"""

from __future__ import annotations

from functools import partial

import pytest

from tools.verify_local import compare, duck_connection

from kafka_stream_service_spark.queries import streaming_replay
from kafka_stream_service_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"

CHAOS_QUERIES = [
    "q_stream_merge_sink_replay",
    "q_stream_fanout_dual_sink_replay",
    "q_stream_hll_merge_replay",
]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", CHAOS_QUERIES)
def test_replay_survives_mid_epoch_crash(spark, duck, name, monkeypatch):
    monkeypatch.setattr(
        streaming_replay,
        "run_replay",
        partial(streaming_replay.run_replay, chaos_kill_first_run=True),
    )
    spec = QUERIES[name]
    spdf = spec.spark_fn(spark, SF).toPandas()
    ddf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, spdf, ddf)
    assert not problems, f"{name} lost exactly-once under crash-restart: {problems}"


def test_chaos_crash_actually_fires(spark, monkeypatch):
    """Guard the guard: the chaotic first run must really crash (a knob
    wired to a dead path would make the suite vacuous)."""
    calls = []
    orig = streaming_replay.run_replay

    def spying(*args, sink, **kwargs):
        def spy(b, e):
            calls.append(e)
            return sink(b, e)

        return orig(*args, sink=spy, chaos_kill_first_run=True, **kwargs)

    monkeypatch.setattr(streaming_replay, "run_replay", spying)
    QUERIES["q_stream_merge_sink_replay"].spark_fn(spark, SF).collect()
    # 2 epochs; epoch 0 applied, crash, then epoch 0 replayed + epoch 1
    assert sorted(calls) == [0, 0, 1], calls


def test_timeout_sessionizer_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-BETWEEN-epochs restart for the event-time-timeout sessionizer
    (VERDICT r7 next-steps #5): run epoch 0 (first chunk) to completion,
    stop the query (checkpoint committed), then resume from the SAME
    checkpoint with the second chunk present. The recovered run must
    re-arm the event-time timeout timers from checkpointed group state —
    sessions opened in epoch 0 must still close by timeout or by a
    late-arriving same-user event — and union(run1, run2) must equal the
    replay oracle hash exactly (the memory sink is not checkpointed, so
    outputs are collected per run; state IS, which is what's under test).
    """
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries.round7j import (
        build_timeout_sessions_stream,
    )
    from kafka_stream_service_spark.queries.registry import QUERIES
    from kafka_stream_service_spark.tables import tables

    ev = tables(spark, SF)["events"].select("event_id", "user_id", "ts")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    chunks = [ev.filter(F.col("ts") < F.lit(mid)), ev.filter(F.col("ts") >= F.lit(mid))]

    # stage each chunk as one parquet file, revealed one epoch at a time
    staged = []
    for i, chunk in enumerate(chunks):
        d = tmp_path / f"stage_{i}"
        chunk.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    # foreachBatch collector sink: the memory sink refuses checkpoint
    # recovery ("This query does not support recovering from checkpoint
    # location"), and recovery is exactly what is under test
    import pandas as pd

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i, part in enumerate(staged):
            shutil.copy(part, str(flat / f"{i:02d}.parquet"))
            os.utime(str(flat / f"{i:02d}.parquet"))
            sessions = build_timeout_sessions_stream(spark, ev.schema, str(flat))
            q = (
                sessions.writeStream.foreachBatch(collect_batch)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    merged["session_start"] = merged["session_start"].dt.tz_localize(None)
    merged["session_end"] = merged["session_end"].dt.tz_localize(None)
    spec = QUERIES["q_stateful_timeout_sessions_replay"]
    problems = compare(
        "q_stateful_timeout_sessions_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"timeout state lost across restart: {problems}"


def test_stream_stream_join_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-between-epochs restart for the FULL OUTER stream-stream
    interval join under the round-8 in-memory state provider: epoch 0
    (first half) runs to completion and the query stops; the resumed run
    must recover BOTH sides' join state from the checkpoint (buffered
    unmatched rows + watermarks) so that matches spanning the restart
    boundary, and null-extended rows evicted after it, still reproduce
    the replay oracle hash exactly. Guards the provider swap
    (HDFSBackedStateStoreProvider) under recovery, not just warm runs.
    """
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries import streaming_replay as sr
    from kafka_stream_service_spark.queries.registry import QUERIES
    from kafka_stream_service_spark.tables import tables

    ev = tables(spark, SF)["events"].select("event_id", "ts", "user_id", "event_type")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx

    def sentinels(pid, cid):
        return sr._literal_rows(
            spark, [(pid, maxts, -1, "purchase"), (cid, maxts, -2, "click")], ev.schema
        )

    chunks = [
        ev.filter(F.col("ts") <= F.lit(half)),
        ev.filter(F.col("ts") > F.lit(half)),
        sentinels(-1, -2),
    ]
    staged = []
    for i, chunk in enumerate(chunks):
        d = tmp_path / f"stage_{i}"
        chunk.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def joined_stream():
        # the SAME plan the product query builds (factored per ADVICE r8
        # so this test can never exercise a stale copy)
        return sr.build_full_outer_join_stream(spark, str(flat), ev.schema)

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(prov_key, sr.HDFS_STATE_PROVIDER)
    try:
        # reveal chunk 0+1 for run 1, the sentinel chunk for run 2: the
        # restart boundary sits between real-data epochs and eviction
        for i, parts in enumerate([staged[:2], staged[2:]]):
            for j, part in enumerate(parts):
                k = (0 if i == 0 else 2) + j
                shutil.copy(part, str(flat / f"{k:02d}.parquet"))
                os.utime(str(flat / f"{k:02d}.parquet"))
            q = (
                joined_stream()
                .writeStream.foreachBatch(collect_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set(prov_key, prev_prov)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    spec = QUERIES["q_stream_full_outer_join_replay"]
    problems = compare(
        "q_stream_full_outer_join_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"join state lost across restart: {problems}"


def test_two_level_agg_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-between-epochs restart for the CHAINED two-level rollup
    (VERDICT r8 next-steps #5): the remaining multi-stateful-operator
    shape — a restart must rehydrate BOTH state stores (the 10-minute
    pre-agg partials AND the hourly re-agg partials) coherently from one
    checkpoint, with the watermark propagating through the recovered
    first operator so recovered level-1 output is not late for level 2.
    Run 1 processes both real-data halves and stops; run 2 reveals the
    sentinel chunk, whose no-data batch applies the final watermark —
    every hour closed before OR after the boundary must land exactly
    once, so union(run1, run2) equals the replay oracle hash.
    """
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries import streaming_replay as sr
    from kafka_stream_service_spark.queries.registry import QUERIES
    from kafka_stream_service_spark.tables import tables

    ev = tables(spark, SF)["events"].select("ts", "event_type", "value")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx

    chunks = [
        ev.filter(F.col("ts") <= F.lit(half)),
        ev.filter(F.col("ts") > F.lit(half)),
        sr._literal_rows(spark, [(maxts, "___wm1", 0.0)], ev.schema),
    ]
    staged = []
    for i, chunk in enumerate(chunks):
        d = tmp_path / f"stage_{i}"
        chunk.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(prov_key, sr.HDFS_STATE_PROVIDER)
    try:
        for i, parts in enumerate([staged[:2], staged[2:]]):
            for j, part in enumerate(parts):
                k = (0 if i == 0 else 2) + j
                shutil.copy(part, str(flat / f"{k:02d}.parquet"))
                os.utime(str(flat / f"{k:02d}.parquet"))
            q = (
                # the SAME plan the product query builds (factored like
                # build_full_outer_join_stream)
                sr.build_two_level_agg_stream(spark, str(flat), ev.schema)
                .writeStream.foreachBatch(collect_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set(prov_key, prev_prov)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    merged["hour_start"] = merged["hour_start"].dt.tz_localize(None)
    spec = QUERIES["q_stream_two_level_agg_replay"]
    problems = compare(
        "q_stream_two_level_agg_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"chained rollup state lost across restart: {problems}"


def test_sliding_window_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-between-epochs restart for the round-9 SLIDING-window replay:
    overlapping windows double the state rows, and a restart must
    rehydrate every in-flight (window, type) cell so that each of the
    two windows covering a given event still emits exactly once. Run 1
    processes both real-data halves; run 2 reveals the sentinel chunk
    whose no-data batch applies the final watermark."""
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries import streaming_replay as sr
    from kafka_stream_service_spark.queries.registry import QUERIES
    from kafka_stream_service_spark.tables import tables

    ev = tables(spark, SF)["events"].select("ts", "event_type", "value")
    maxts = ev.agg(F.max("ts").alias("mx")).collect()[0].mx
    cut = F.lit(maxts) - F.expr("INTERVAL 12 HOURS")
    chunks = [
        ev.filter(F.col("ts") <= cut),
        ev.filter(F.col("ts") > cut),
        sr._literal_rows(spark, [(maxts, "___wm1", 0.0)], ev.schema),
    ]
    staged = []
    for i, chunk in enumerate(chunks):
        d = tmp_path / f"stage_{i}"
        chunk.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def sliding_stream():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(flat))
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
            )
            .filter(~F.col("event_type").startswith("___wm"))
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                F.col("v").cast("double").alias("sum_value"),
            )
        )

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        for i, parts in enumerate([staged[:2], staged[2:]]):
            for j, part in enumerate(parts):
                k = (0 if i == 0 else 2) + j
                shutil.copy(part, str(flat / f"{k:02d}.parquet"))
                os.utime(str(flat / f"{k:02d}.parquet"))
            q = (
                sliding_stream()
                .writeStream.foreachBatch(collect_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    merged["window_start"] = merged["window_start"].dt.tz_localize(None)
    spec = QUERIES["q_stream_sliding_window_replay"]
    problems = compare(
        "q_stream_sliding_window_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"sliding-window state lost across restart: {problems}"


def test_weighted_reservoir_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-between-epochs restart for the round-10 streaming A-ES
    reservoir: run 1 processes chunk 0 (the DIV-20-even docs) and stops;
    run 2 reveals chunk 1 and resumes from the same checkpoint. The
    resumed operator must rehydrate every source's top-k state so its
    batch-1 emission is the FULL-corpus reservoir — losing state would
    instead emit a chunk-1-only reservoir and flip the oracle hash.
    union(run1, run2) must equal q_stream_weighted_sample_replay's
    oracle exactly."""
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries import streaming_replay as sr
    from kafka_stream_service_spark.queries.round10d import (
        _es_keyed_frame,
        build_reservoir_stream,
    )

    keyed = _es_keyed_frame(spark, SF)
    chunk = F.expr("(doc_id DIV 20) % 2")
    chunks = [keyed.filter(chunk == 0), keyed.filter(chunk == 1)]
    staged = []
    for i, c in enumerate(chunks):
        d = tmp_path / f"stage_{i}"
        c.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(prov_key, sr.HDFS_STATE_PROVIDER)
    try:
        for i, part in enumerate(staged):
            shutil.copy(part, str(flat / f"{i:02d}.parquet"))
            os.utime(str(flat / f"{i:02d}.parquet"))
            stream = (
                spark.readStream.schema(keyed.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(flat))
            )
            q = (
                build_reservoir_stream(stream)
                .writeStream.foreachBatch(collect_batch)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set(prov_key, prev_prov)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    spec = QUERIES["q_stream_weighted_sample_replay"]
    problems = compare(
        "q_stream_weighted_sample_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"reservoir state lost across restart: {problems}"


def test_index_probe_dedup_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-BETWEEN-epochs restart for the r11 streaming index-probe
    dedup: run the first delta chunk to completion, stop (checkpoint
    committed), resume from the SAME checkpoint with the second chunk
    revealed. The stateful dropDuplicates state must rehydrate — a
    delta-delta pair discovered from one endpoint in epoch 0 and from
    the other endpoint in epoch 1 must be emitted exactly once across
    runs — and union(run1, run2) must hash-match the full-rebuild delta
    oracle (the same verdict the batch probe carries)."""
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries.round11d import (
        _SDELTA_MOD,
        _SDELTA_REM,
        build_index_probe_stream,
    )
    from kafka_stream_service_spark.queries.registry import QUERIES
    from kafka_stream_service_spark.tables import tables

    d = tables(spark, SF)["documents"].select("doc_id", "text")
    delta = d.filter((F.col("doc_id") % _SDELTA_MOD) == _SDELTA_REM)
    chunks = [
        delta.filter((F.col("doc_id") % 20) == _SDELTA_REM),
        delta.filter((F.col("doc_id") % 20) != _SDELTA_REM),
    ]
    staged = []
    for i, chunk in enumerate(chunks):
        dd = tmp_path / f"stage_{i}"
        chunk.coalesce(1).write.parquet(str(dd))
        (part,) = glob.glob(str(dd / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for i, part in enumerate(staged):
            shutil.copy(part, str(flat / f"{i:02d}.parquet"))
            os.utime(str(flat / f"{i:02d}.parquet"))
            pairs = build_index_probe_stream(spark, SF, str(flat))
            q = (
                pairs.writeStream.foreachBatch(collect_batch)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    # exactly-once across the restart: no pair may appear twice
    assert not merged.duplicated(["id_a", "id_b"]).any(), "dedup state lost"
    spec = QUERIES["q_stream_index_probe_dedup_replay"]
    problems = compare(
        "q_stream_index_probe_dedup_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"index-probe dedup state lost across restart: {problems}"


def test_stream_cusum_survives_between_epoch_restart(spark, duck, tmp_path):
    """Kill-between-epochs restart for the round-11 streaming CUSUM:
    run 1 folds days 16-23 and stops; run 2 reveals days 24+ and
    resumes from the same checkpoint. The resumed operator must
    rehydrate each event type's single-integer CUSUM state — losing it
    would restart every type's walk at 0 for the second chunk and flip
    the alarm rows' hash. union(run1, run2) must equal
    q_stream_cusum_replay's batch-recursion oracle exactly."""
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries import streaming_replay as sr
    from kafka_stream_service_spark.queries.round11q import (
        _CUSUM_SPLIT_DOM,
        _cusum_stream_frame,
        build_cusum_stream,
    )

    frame = _cusum_stream_frame(spark, SF)
    chunks = [
        frame.filter(F.col("dom") <= _CUSUM_SPLIT_DOM),
        frame.filter(F.col("dom") > _CUSUM_SPLIT_DOM),
    ]
    staged = []
    for i, c in enumerate(chunks):
        d = tmp_path / f"stage_{i}"
        c.coalesce(1).write.parquet(str(d))
        (part,) = glob.glob(str(d / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    collected: list = []

    def collect_batch(batch_df, epoch_id):
        collected.append(batch_df.toPandas())

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(prov_key, sr.HDFS_STATE_PROVIDER)
    try:
        for i, part in enumerate(staged):
            shutil.copy(part, str(flat / f"{i:02d}.parquet"))
            os.utime(str(flat / f"{i:02d}.parquet"))
            stream = (
                spark.readStream.schema(frame.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(flat))
            )
            q = (
                build_cusum_stream(stream)
                .writeStream.foreachBatch(collect_batch)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set(prov_key, prev_prov)

    merged = pd.concat([c for c in collected if len(c)], ignore_index=True)
    spec = QUERIES["q_stream_cusum_replay"]
    problems = compare(
        "q_stream_cusum_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"CUSUM state lost across restart: {problems}"


def test_text_index_refresh_consumer_survives_between_epoch_restart(
    spark, duck, tmp_path
):
    """Kill-between-epochs restart for a STREAMING consumer of the
    round11n text-base artifact (VERDICT r11 next-steps #6): arriving
    delta documents stream in two chunks, each row computes its own
    (token, tf) postings map-side (the per-row-signing trick from the
    streaming index probe — no stream-side pre-aggregation), stream-
    static-joins the STORED base census parquet, and a complete-mode
    stateful aggregation maintains the merged per-token census. The
    query is stopped after epoch 0 (checkpoint committed) and resumed
    with chunk 1 revealed; the recovered run must rebuild the census
    from checkpointed state such that the final emission equals
    q_text_index_delta's full-merge oracle hash exactly — a lost or
    doubled token row flips it.
    """
    import glob
    import os
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries.round11n import text_base_index
    from kafka_stream_service_spark.tables import tables

    base_census = (
        text_base_index(spark, SF)["postings"]
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df_b"),
            F.sum("tf").cast("bigint").alias("tf_b"),
        )
    )

    d = tables(spark, SF)["documents"].select("doc_id", "text")
    delta = d.filter((F.col("doc_id") % 10) == 7)
    chunks = [
        delta.filter((F.col("doc_id") % 20) == 7),
        delta.filter((F.col("doc_id") % 20) != 7),
    ]
    staged = []
    for i, chunk in enumerate(chunks):
        dstage = tmp_path / f"stage_{i}"
        chunk.coalesce(1).write.parquet(str(dstage))
        (part,) = glob.glob(str(dstage / "*.parquet"))
        staged.append(part)
    flat = tmp_path / "flat"
    flat.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def census_stream():
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(flat))
        )
        toks = F.split(F.col("text"), " ")
        entries = F.transform(
            F.array_distinct(toks),
            lambda t: F.struct(
                t.alias("token"),
                F.size(F.filter(toks, lambda x: x == t)).cast("bigint").alias("tf"),
            ),
        )
        postings = stream.select(
            "doc_id", F.explode(entries).alias("e")
        ).select("doc_id", F.col("e.token").alias("token"), F.col("e.tf").alias("tf"))
        joined = postings.join(base_census, "token", "left")
        return joined.groupBy("token").agg(
            (F.coalesce(F.max("df_b"), F.lit(0)) + F.count(F.lit(1)))
            .cast("bigint")
            .alias("df"),
            (F.coalesce(F.max("tf_b"), F.lit(0)) + F.sum("tf"))
            .cast("bigint")
            .alias("sum_tf"),
            F.count(F.lit(1)).cast("bigint").alias("df_delta"),
        )

    # complete-mode collector: every epoch re-emits the WHOLE census, so
    # the LAST collected batch is the final merged state
    collected: list = []

    def collect_batch(batch_df, epoch_id):
        pdf = batch_df.toPandas()
        if len(pdf):
            collected.append(pdf)

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for i, part in enumerate(staged):
            shutil.copy(part, str(flat / f"{i:02d}.parquet"))
            os.utime(str(flat / f"{i:02d}.parquet"))
            q = (
                census_stream()
                .writeStream.foreachBatch(collect_batch)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()  # the between-epochs "kill": checkpoint keeps state
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    final = collected[-1]
    spec = QUERIES["q_text_index_delta"]
    problems = compare(
        "q_text_index_delta(streaming-restart)",
        final,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"text-index census state lost across restart: {problems}"
