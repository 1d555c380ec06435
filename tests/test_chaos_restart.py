"""Chaos tier: replay queries must stay exactly-once across a restart.

The replay oracles are deterministic by construction; these tests
prove they stay deterministic when the query is restarted from its
checkpoint mid-stream. Both restart forms run through the replay runner,
``queries/streaming_replay.py:run_replay``:

- **Mid-epoch crash.** ``chaos_kill_first_run`` makes the first run
  raise after a micro-batch's sink function has fully applied but before
  Spark records the epoch commit — the window exactly-once sinks exist
  for — and a second run resumes from the same checkpoint and
  re-delivers that epoch. Run over the replay rows whose sinks must
  absorb the redelivery (pointer-swap MERGE, dual-sink fan-out, HLL
  partial merge): a double-applied epoch flips the oracle hash.
- **Between-landings restart.** An availableNow run stops once it has
  drained; ``run_replay`` lands the next fixture chunk and starts the
  query again from ``<base>/ckpt``. The stateful operators under test
  must rehydrate their state (timeout timers, join buffers, chained
  partials, reservoirs, walks, censuses) from the checkpoint, so that
  the union of every run's output equals the replay oracle exactly.
"""

from __future__ import annotations

import os
from functools import partial

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tools.verify_local import compare, duck_connection

from kafka_stream_service_spark.queries import streaming_replay as sr
from kafka_stream_service_spark.queries.registry import QUERIES
from kafka_stream_service_spark.queries.round7j import build_timeout_sessions_stream
from kafka_stream_service_spark.queries.round10d import (
    _es_keyed_frame,
    build_reservoir_stream,
)
from kafka_stream_service_spark.queries.round11d import (
    _SDELTA_MOD,
    _SDELTA_REM,
    build_index_probe_stream,
)
from kafka_stream_service_spark.queries.round11n import TEXT_BASE_INDEX
from kafka_stream_service_spark.queries.round11q import (
    _CUSUM_SPLIT_DOM,
    _cusum_stream_frame,
    build_cusum_stream,
)
from kafka_stream_service_spark.session import ROCKSDB_STATE_PROVIDER
from kafka_stream_service_spark.sources import stream_file_source
from kafka_stream_service_spark.tables import tables

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
        sr, "run_replay", partial(sr.run_replay, chaos_kill_first_run=True)
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
    orig = sr.run_replay

    def spying(*args, sink, **kwargs):
        def spy(b, e):
            calls.append(e)
            return sink(b, e)

        return orig(*args, sink=spy, chaos_kill_first_run=True, **kwargs)

    monkeypatch.setattr(sr, "run_replay", spying)
    QUERIES["q_stream_merge_sink_replay"].spark_fn(spark, SF).collect()
    # 2 epochs; epoch 0 applied, crash, then epoch 0 replayed + epoch 1
    assert sorted(calls) == [0, 0, 1], calls


def _restart_between_landings(spark, build, base, runs, **runner) -> list:
    """Run ``build(<base>/flat)``, the stream over the landing directory
    (made first), through ``run_replay``'s availableNow form, one run per
    landing: landing i writes the chunk frames ``runs[i]`` into
    ``<base>/flat``, the query drains them and stops, and the next
    landing's run resumes from ``<base>/ckpt``. The memory sink refuses
    checkpoint recovery, so the sink collects each epoch's frame; the
    non-empty ones come back in epoch order. ``runner`` passes the
    test's width, provider and output mode to the runner.

    Guards the guard, the between-landings counterpart of
    test_chaos_crash_actually_fires: each landing must be drained by
    exactly one query run of its own, and each run's first epoch must
    follow the previous run's last — a fresh start would begin again at
    epoch 0. A runner that stopped restarting, or restarted from scratch,
    fails here instead of leaving the oracle checks vacuous."""
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    frames, seen, landing = [], [], [None]

    def land(i):
        landing[0] = i
        sr._write_chunks(runs[i], str(base))

    def collect(batch_df, epoch_id):
        (query,) = spark.streams.active
        seen.append((landing[0], query.runId, epoch_id))
        frames.append(batch_df.toPandas())

    sr.run_replay(
        spark,
        build(flat),
        str(base),
        sink=collect,
        available_now=True,
        landings=[partial(land, i) for i in range(len(runs))],
        **runner,
    )
    by_landing = [[s[1:] for s in seen if s[0] == i] for i in range(len(runs))]
    assert [len({r for r, _ in run}) for run in by_landing] == [1] * len(runs), seen
    assert len({run[0][0] for run in by_landing}) == len(runs), seen
    for prev, nxt in zip(by_landing, by_landing[1:]):
        assert nxt[0][1] == prev[-1][1] + 1, f"run did not resume the checkpoint: {seen}"
    return [f for f in frames if len(f)]


def test_timeout_sessionizer_survives_between_epoch_restart(spark, duck, tmp_path):
    """Between-landings restart for the event-time-timeout sessionizer
    (VERDICT r7 next-steps #5): run 1 drains the first half, run 2 the
    second. The recovered run must re-arm the event-time timeout timers
    from checkpointed group state — sessions opened in epoch 0 must still
    close by timeout or by a late-arriving same-user event — and
    union(run1, run2) must equal the replay oracle hash exactly.
    """
    ev = tables(spark, SF)["events"].select("event_id", "user_id", "ts")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    runs = [[ev.filter(F.col("ts") < F.lit(mid))], [ev.filter(F.col("ts") >= F.lit(mid))]]
    merged = pd.concat(
        _restart_between_landings(
            spark,
            partial(build_timeout_sessions_stream, spark, ev.schema),
            tmp_path,
            runs,
            shuffle_partitions=8,
            state_provider=ROCKSDB_STATE_PROVIDER,
            output_mode="update",
        ),
        ignore_index=True,
    )
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
    """Between-landings restart for the FULL OUTER stream-stream interval
    join under the round-8 in-memory state provider: run 1 drains both
    real-data halves, run 2 the sentinel chunk, so the restart boundary
    sits between real-data epochs and eviction. The resumed run must
    recover BOTH sides' join state from the checkpoint (buffered
    unmatched rows + watermarks) so that matches spanning the restart
    boundary, and null-extended rows evicted after it, still reproduce
    the replay oracle hash exactly. Guards the provider swap
    (HDFSBackedStateStoreProvider) under recovery, not just warm runs.
    """
    ev = tables(spark, SF)["events"].select("event_id", "ts", "user_id", "event_type")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx
    sentinels = sr._literal_rows(
        spark, [(-1, maxts, -1, "purchase"), (-2, maxts, -2, "click")], ev.schema
    )
    runs = [
        [ev.filter(F.col("ts") <= F.lit(half)), ev.filter(F.col("ts") > F.lit(half))],
        [sentinels],
    ]
    merged = pd.concat(
        _restart_between_landings(
            spark,
            # the SAME plan the product query builds (factored per ADVICE
            # r8 so this test can never exercise a stale copy)
            lambda flat: sr.build_full_outer_join_stream(spark, flat, ev.schema),
            tmp_path,
            runs,
            shuffle_partitions=2,
            state_provider=sr.HDFS_STATE_PROVIDER,
            output_mode="append",
        ),
        ignore_index=True,
    )
    spec = QUERIES["q_stream_full_outer_join_replay"]
    problems = compare(
        "q_stream_full_outer_join_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"join state lost across restart: {problems}"


def test_two_level_agg_survives_between_epoch_restart(spark, duck, tmp_path):
    """Between-landings restart for the CHAINED two-level rollup
    (VERDICT r8 next-steps #5): the remaining multi-stateful-operator
    shape — a restart must rehydrate BOTH state stores (the 10-minute
    pre-agg partials AND the hourly re-agg partials) coherently from one
    checkpoint, with the watermark propagating through the recovered
    first operator so recovered level-1 output is not late for level 2.
    Run 1 drains both real-data halves; run 2 the sentinel chunk, whose
    no-data batch applies the final watermark — every hour closed before
    OR after the boundary must land exactly once, so union(run1, run2)
    equals the replay oracle hash.
    """
    ev = tables(spark, SF)["events"].select("ts", "event_type", "value")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx
    runs = [
        [ev.filter(F.col("ts") <= F.lit(half)), ev.filter(F.col("ts") > F.lit(half))],
        [sr._literal_rows(spark, [(maxts, "___wm1", 0.0)], ev.schema)],
    ]
    merged = pd.concat(
        _restart_between_landings(
            spark,
            # the SAME plan the product query builds (factored like
            # build_full_outer_join_stream)
            lambda flat: sr.build_two_level_agg_stream(spark, flat, ev.schema),
            tmp_path,
            runs,
            shuffle_partitions=2,
            state_provider=sr.HDFS_STATE_PROVIDER,
            output_mode="append",
        ),
        ignore_index=True,
    )
    merged["hour_start"] = merged["hour_start"].dt.tz_localize(None)
    spec = QUERIES["q_stream_two_level_agg_replay"]
    problems = compare(
        "q_stream_two_level_agg_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"chained rollup state lost across restart: {problems}"


def test_sliding_window_survives_between_epoch_restart(spark, duck, tmp_path):
    """Between-landings restart for the round-9 SLIDING-window replay:
    overlapping windows double the state rows, and a restart must
    rehydrate every in-flight (window, type) cell so that each of the
    two windows covering a given event still emits exactly once. Run 1
    drains both real-data halves; run 2 the sentinel chunk, whose
    no-data batch applies the final watermark."""
    ev = tables(spark, SF)["events"].select("ts", "event_type", "value")
    maxts = ev.agg(F.max("ts").alias("mx")).collect()[0].mx
    cut = F.lit(maxts) - F.expr("INTERVAL 12 HOURS")
    runs = [
        [ev.filter(F.col("ts") <= cut), ev.filter(F.col("ts") > cut)],
        [sr._literal_rows(spark, [(maxts, "___wm1", 0.0)], ev.schema)],
    ]

    def sliding(flat):
        return (
            stream_file_source(spark, flat, ev.schema)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "30 minutes")
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

    merged = pd.concat(
        _restart_between_landings(
            spark,
            sliding,
            tmp_path,
            runs,
            shuffle_partitions=2,
            state_provider=ROCKSDB_STATE_PROVIDER,
            output_mode="append",
        ),
        ignore_index=True,
    )
    merged["window_start"] = merged["window_start"].dt.tz_localize(None)
    spec = QUERIES["q_stream_sliding_window_replay"]
    problems = compare(
        "q_stream_sliding_window_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"sliding-window state lost across restart: {problems}"


def test_weighted_reservoir_survives_between_epoch_restart(spark, duck, tmp_path):
    """Between-landings restart for the round-10 streaming A-ES
    reservoir: run 1 drains chunk 0 (the DIV-20-even docs), run 2 chunk
    1. The resumed operator must rehydrate every source's top-k state so
    its batch-1 emission is the FULL-corpus reservoir — losing state
    would instead emit a chunk-1-only reservoir and flip the oracle
    hash. union(run1, run2) must equal q_stream_weighted_sample_replay's
    oracle exactly."""
    keyed = _es_keyed_frame(spark, SF)
    chunk = F.expr("(doc_id DIV 20) % 2")
    runs = [[keyed.filter(chunk == 0)], [keyed.filter(chunk == 1)]]
    merged = pd.concat(
        _restart_between_landings(
            spark,
            lambda flat: build_reservoir_stream(
                stream_file_source(spark, flat, keyed.schema)
            ),
            tmp_path,
            runs,
            shuffle_partitions=2,
            state_provider=sr.HDFS_STATE_PROVIDER,
            output_mode="update",
        ),
        ignore_index=True,
    )
    spec = QUERIES["q_stream_weighted_sample_replay"]
    problems = compare(
        "q_stream_weighted_sample_replay(restart)",
        merged,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"reservoir state lost across restart: {problems}"


def test_index_probe_dedup_survives_between_epoch_restart(spark, duck, tmp_path):
    """Between-landings restart for the r11 streaming index-probe dedup:
    run 1 drains the first delta chunk, run 2 the second. The stateful
    dropDuplicates state must rehydrate — a delta-delta pair discovered
    from one endpoint in epoch 0 and from the other endpoint in epoch 1
    must be emitted exactly once across runs — and union(run1, run2)
    must hash-match the full-rebuild delta oracle (the same verdict the
    batch probe carries)."""
    d = tables(spark, SF)["documents"].select("doc_id", "text")
    delta = d.filter((F.col("doc_id") % _SDELTA_MOD) == _SDELTA_REM)
    runs = [
        [delta.filter((F.col("doc_id") % 20) == _SDELTA_REM)],
        [delta.filter((F.col("doc_id") % 20) != _SDELTA_REM)],
    ]
    merged = pd.concat(
        _restart_between_landings(
            spark,
            partial(build_index_probe_stream, spark, SF),
            tmp_path,
            runs,
            shuffle_partitions=4,
            state_provider=ROCKSDB_STATE_PROVIDER,
            output_mode="append",
        ),
        ignore_index=True,
    )
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
    """Between-landings restart for the round-11 streaming CUSUM: run 1
    folds days 16-23, run 2 days 24+. The resumed operator must rehydrate
    each event type's single-integer CUSUM state — losing it would
    restart every type's walk at 0 for the second chunk and flip the
    alarm rows' hash. union(run1, run2) must equal
    q_stream_cusum_replay's batch-recursion oracle exactly."""
    frame = _cusum_stream_frame(spark, SF)
    runs = [
        [frame.filter(F.col("dom") <= _CUSUM_SPLIT_DOM)],
        [frame.filter(F.col("dom") > _CUSUM_SPLIT_DOM)],
    ]
    merged = pd.concat(
        _restart_between_landings(
            spark,
            lambda flat: build_cusum_stream(stream_file_source(spark, flat, frame.schema)),
            tmp_path,
            runs,
            shuffle_partitions=2,
            state_provider=sr.HDFS_STATE_PROVIDER,
            output_mode="update",
        ),
        ignore_index=True,
    )
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
    """Between-landings restart for a STREAMING consumer of the
    round11n text-base artifact (VERDICT r11 next-steps #6): arriving
    delta documents stream in two chunks, each row computes its own
    (token, tf) postings map-side (the per-row-signing trick from the
    streaming index probe — no stream-side pre-aggregation), stream-
    static-joins the STORED base census parquet, and a complete-mode
    stateful aggregation maintains the merged per-token census. Run 1
    drains chunk 0, run 2 chunk 1; the recovered run must rebuild the
    census from checkpointed state such that the final emission equals
    q_text_index_delta's full-merge oracle hash exactly — a lost or
    doubled token row flips it.
    """
    base_census = (
        TEXT_BASE_INDEX.read(spark, SF)["postings"]
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df_b"),
            F.sum("tf").cast("bigint").alias("tf_b"),
        )
    )
    d = tables(spark, SF)["documents"].select("doc_id", "text")
    delta = d.filter((F.col("doc_id") % 10) == 7)
    runs = [
        [delta.filter((F.col("doc_id") % 20) == 7)],
        [delta.filter((F.col("doc_id") % 20) != 7)],
    ]

    def census(flat):
        toks = F.split(F.col("text"), " ")
        entries = F.transform(
            F.array_distinct(toks),
            lambda t: F.struct(
                t.alias("token"),
                F.size(F.filter(toks, lambda x: x == t)).cast("bigint").alias("tf"),
            ),
        )
        postings = (
            stream_file_source(spark, flat, delta.schema)
            .select("doc_id", F.explode(entries).alias("e"))
            .select("doc_id", F.col("e.token").alias("token"), F.col("e.tf").alias("tf"))
        )
        return (
            postings.join(base_census, "token", "left")
            .groupBy("token")
            .agg(
                (F.coalesce(F.max("df_b"), F.lit(0)) + F.count(F.lit(1)))
                .cast("bigint")
                .alias("df"),
                (F.coalesce(F.max("tf_b"), F.lit(0)) + F.sum("tf"))
                .cast("bigint")
                .alias("sum_tf"),
                F.count(F.lit(1)).cast("bigint").alias("df_delta"),
            )
        )

    # complete mode: every epoch re-emits the WHOLE census, so the LAST
    # non-empty frame is the final merged state
    final = _restart_between_landings(
        spark,
        census,
        tmp_path,
        runs,
        shuffle_partitions=4,
        state_provider=ROCKSDB_STATE_PROVIDER,
        output_mode="complete",
    )[-1]
    spec = QUERIES["q_text_index_delta"]
    problems = compare(
        "q_text_index_delta(streaming-restart)",
        final,
        duck.execute(spec.oracle).fetchdf(),
    )
    assert not problems, f"text-index census state lost across restart: {problems}"
