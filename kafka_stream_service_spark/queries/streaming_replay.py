"""GENUINELY-STREAMING queries with exact batch oracles.

The other streaming coverage is either batch-expressible analogues
(``events_q.py``) or pytest-only replay (``tests/test_streaming.py``).
These queries close the gap: each runs a real Structured Streaming
query — file-stream source, watermark, stateful operator, memory sink —
inside the query function, with a deterministic micro-batch schedule, and
an oracle that predicts the EXACT final table by expressing the watermark
algebra in SQL. That gives the R-streaming rows (watermark late-drop,
streaming dedup, stream-stream interval join) hard driver verdicts
instead of rows-only/pytest cover.

Determinism contract:
- chunk membership is a pure function of the data (no sampling, no order
  dependence), one parquet file per chunk, mod-times forced ascending, and
  ``maxFilesPerTrigger=1`` — so micro-batch N contains exactly chunk N;
- the engine's watermark is max(event time seen) minus the delay, floored
  to the millisecond; measured on this engine (see the experiment log in
  q_stream_watermark_drop): input late-filtering in batch N uses the
  watermark that was IN FORCE during batch N (computed from batches
  <= N-1), while state eviction/emission at the end of batch N uses the
  watermark updated by batch N — so a late row is dropped only when its
  window was evicted in an EARLIER batch. The replay schedules below are
  chosen so every row is unambiguously on one side of that boundary, and
  the oracle reproduces the arithmetic in epoch-milliseconds exactly;
- a no-data batch (noDataMicroBatches, on by default) flushes state after
  the last file, so append mode emits every window closed by the FINAL
  watermark.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from datetime import timedelta

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..session import ROCKSDB_STATE_PROVIDER
from ..tables import tables
from ._util import dec, dsum, work_dir
from .registry import query

WM_MIN = 30  # watermark delay for the late-drop query, minutes

# Fixture-scale state-store provider, run_replay's default: the session
# default is RocksDB — the right provider when state outgrows executor
# memory at 100 TB — but its per-store-per-batch snapshot overhead
# dominates these replays' tiny bounded state (every replay row's state
# is fixture-bounded BY DESIGN: join buffers / dedup keys / agg partials
# over <=6 micro-batches). r7 measurement (3-run medians, identical
# output fingerprints): full-outer 7.2 s -> 4.4 s, two-level agg
# 5.2 s -> 3.3 s. r15 extension A/B (2 processes x 2 passes per config,
# sf0.1): stream times q_stream_stream_join_replay 3.3-6.6 -> 2.6-4.5 s,
# q_stream_semi_join_replay 3.6-4.5 -> 2.4-3.2 s, topk-window
# 2.4-3.6 -> 2.0-3.1 s; RocksDB changelog checkpointing was also
# measured and does NOT close the gap (join rows unchanged, the
# applyInPandasWithState row got slower). run_replay scopes the provider
# per run exactly like the shuffle width; rows that run on RocksDB pass
# ROCKSDB_STATE_PROVIDER (q_statestore_introspection must, it reads a
# RocksDB store). The chaos-restart tier covers checkpoint resume on
# both providers.
HDFS_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)

# Timing side-channel for bench attribution (VERDICT r5 next-steps #4):
# each replay query's wall time is mostly fixture harness (chunk
# materialization) plus the checkpointed streaming run. ``_write_chunks``
# stamps its seconds as harness time and ``run_replay`` stamps the run's
# (a landing it makes mid-run is harness time, the rest is stream time),
# so bench.py can report (harness_sec, stream_sec) per replay row instead
# of one opaque number. Reset-by-overwrite: each replay row makes one run.
LAST_TIMINGS: dict[str, float] = {"write_chunks_sec": 0.0, "stream_run_sec": 0.0}


def _literal_rows(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """Tiny literal frames built JVM-SIDE (range(1) + lit() + union)
    instead of ``spark.createDataFrame(list)``: the local-list path
    serializes through a Python round per JOB and costs ~5 s per write
    in this environment (measured round 6: a 2-row sentinel chunk wrote
    in 5.6 s via createDataFrame vs 0.7 s as literals) — the sentinel
    chunks were 10 of the 14 bench seconds of each outer-join replay."""
    frames = []
    for row in rows:
        cols = [
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(row, schema.fields)
        ]
        frames.append(spark.range(1).select(*cols))
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionAll(fr)
    return out


def _write_chunks(df_chunks: list[DataFrame], base: str) -> str:
    """One parquet file per chunk with ascending mod-times so the file
    stream (maxFilesPerTrigger=1) replays chunk i as micro-batch i.

    The per-chunk write jobs are INDEPENDENT, so they are submitted from
    a small thread pool (guide §2.6 "overlap independent jobs") and the
    cluster overlaps their fixed costs; each chunk keeps its own
    ``coalesce(1).write`` plan, so per-chunk file bytes and WITHIN-CHUNK
    row order are identical to the sequential form — within-batch order
    matters to first-wins dedup replays, which is why the chunks are NOT
    unioned into one partitionBy job (that would shuffle rows inside a
    chunk). Optimization r15: harness split medians across the replay
    tier 0.3-0.7 s -> ~0.2-0.4 s per row.

    A later call on the same ``base`` lands its chunks after the files
    already there, so a row can land more of its fixture mid-run."""
    t0 = time.time()
    flat = os.path.join(base, "flat")
    os.makedirs(flat, exist_ok=True)
    now = time.time()

    def _write_one(i_chunk: tuple[int, DataFrame]) -> None:
        i, chunk = i_chunk
        staged = os.path.join(base, f"stage_{i}")
        chunk.coalesce(1).write.parquet(staged)
        (part,) = glob.glob(os.path.join(staged, "*.parquet"))
        dst = os.path.join(flat, f"{i:02d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now - 600 + i * 10, now - 600 + i * 10))

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, max(len(df_chunks), 1))) as pool:
        list(pool.map(_write_one, enumerate(df_chunks, len(os.listdir(flat)))))
    LAST_TIMINGS["write_chunks_sec"] = time.time() - t0
    return flat


# Boundedness budget for the in-memory provider (VERDICT r15 next-steps
# #8): HDFS_STATE_PROVIDER keeps every store version on the executor
# heap, which is safe ONLY because replay fixtures are bounded by design
# — every replay schedule above/below delivers <= 6 data micro-batches
# (plus at most one trailing no-data batch and one engine-initiated
# extra). A future fixture that silently grows past that would run
# unbounded state in memory; whenever that provider is in force,
# run_replay counts the checkpoint's committed batches after the run and
# fails loudly instead (tests/test_streaming_replay_guard.py feeds an
# over-budget fixture and asserts the trip).
REPLAY_MAX_MICRO_BATCHES = 8


class _PlannedChaosCrash(RuntimeError):
    pass


def run_replay(
    spark: SparkSession,
    stream: DataFrame | DataStreamWriter,
    base: str,
    *,
    sink: Callable[[DataFrame, int], None] | None = None,
    shuffle_partitions: int | None = None,
    output_mode: str | None = None,
    state_provider: str = HDFS_STATE_PROVIDER,
    available_now: bool = False,
    landings: Sequence[Callable[[], object]] = (),
    chaos_kill_first_run: bool = False,
) -> DataFrame | None:
    """Run one replay query to completion against ``<base>/ckpt``; the one
    place a replay row starts, drains and stops its query.

    The sink follows the arguments: a ``stream`` DataFrame lands in a
    memory table (returned) or, given ``sink``, in that foreachBatch
    function; a ``stream`` DataStreamWriter (a format sink the row
    configured) is started as it is. ``output_mode`` None keeps the
    writer's mode (append unless the writer set one).

    ``shuffle_partitions`` and ``state_provider`` are session conf scoped
    to this run (set before start, restored after): Spark pins both into
    the checkpoint's offset log when the query starts, and no writer
    option sets them. Stateful-operator overhead is per state store per
    partition per batch — a stream-stream join keeps FOUR stores per
    partition — and the replay fixtures are small, so a handful of
    partitions beats the session's 32 by ~10x wall-clock; None keeps the
    session width.

    ``landings`` land fixture files: the first before the query starts,
    each next one after the previous drain, restarting the query if it
    has stopped (an availableNow run stops once drained). Their wall time
    is harness time; the rest of the run is stream time. So an
    availableNow run with several landings restarts from the checkpoint
    between them: each run after the first resumes ``<base>/ckpt``'s
    offsets and state under a new run id. The chaos tier's between-epoch
    restart tests (tests/test_chaos_restart.py) rely on this.

    ``chaos_kill_first_run`` (foreachBatch sinks only): a first attempt
    raises after ``sink`` has applied the first micro-batch but before
    Spark records its commit — the crash window exactly-once sinks exist
    for — and the run then resumes from the checkpoint, which re-delivers
    that epoch into ``sink``.
    """
    t0 = time.time()
    ckpt = os.path.join(base, "ckpt")
    name = f"replay_{uuid.uuid4().hex[:10]}"
    memory = isinstance(stream, DataFrame) and sink is None

    def start(fn) -> StreamingQuery:
        if not isinstance(stream, DataFrame):
            w = stream
        elif memory:
            w = stream.writeStream.format("memory").queryName(name)
        else:
            w = stream.writeStream.foreachBatch(fn)
        if output_mode is not None:
            w = w.outputMode(output_mode)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.option("checkpointLocation", ckpt).start()

    def drain(q: StreamingQuery) -> None:
        if available_now:
            q.awaitTermination()  # availableNow stops by itself
        else:
            q.processAllAvailable()

    def chaotic(batch_df: DataFrame, epoch_id: int) -> None:
        sink(batch_df, epoch_id)
        raise _PlannedChaosCrash(
            f"planned crash after applying epoch {epoch_id}, before commit"
        )

    scoped = {
        "spark.sql.shuffle.partitions": shuffle_partitions,
        "spark.sql.streaming.stateStore.providerClass": state_provider,
    }
    prev = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        if v is not None:
            spark.conf.set(k, str(v))
    landed = 0.0
    q = None
    try:
        if chaos_kill_first_run:
            q = start(chaotic)
            try:
                drain(q)
            except StreamingQueryException as exc:
                # the planned crash surfaces wrapped, its class name and
                # message flattened into the text; swallow ONLY that — an
                # unrelated first-run failure must not be masked behind a
                # clean second run
                if "_PlannedChaosCrash" not in str(exc):
                    raise
                q.stop()
        for land in landings or (None,):
            if land is not None:
                t1 = time.time()
                land()
                landed += time.time() - t1
            if q is None or not q.isActive:
                q = start(sink)
            drain(q)
    finally:
        if q is not None:
            q.stop()
        for k, v in prev.items():
            spark.conf.set(k, v)
    if state_provider == HDFS_STATE_PROVIDER:
        commits = [
            c
            for c in glob.glob(os.path.join(ckpt, "commits", "*"))
            if not c.endswith(".tmp")
        ]
        if len(commits) > REPLAY_MAX_MICRO_BATCHES:
            raise RuntimeError(
                f"replay ran {len(commits)} micro-batches, over the "
                f"{REPLAY_MAX_MICRO_BATCHES}-batch budget the in-memory "
                "state provider assumes (state is only fixture-bounded "
                "within that budget); shrink the fixture or run it on "
                "ROCKSDB_STATE_PROVIDER"
            )
    if landings:
        LAST_TIMINGS["write_chunks_sec"] = landed
    LAST_TIMINGS["stream_run_sec"] = time.time() - t0 - landed
    return spark.table(name) if memory else None


@query(
    "q_stream_watermark_drop",
    oracle=f"""
    WITH wm AS (  -- watermark after batch 0 (the full table), in force
                  -- while the batch-2 stragglers are filtered AND at the
                  -- final state flush (batch 1 adds no newer event time)
      SELECT epoch_us(max(ts)) // 1000 - {WM_MIN * 60 * 1000} AS wm_ms
      FROM events
    )
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    HAVING epoch_us(window_end) // 1000 <= (SELECT wm_ms FROM wm)
    """,
    tags=("streaming", "watermark", "replay"),
)
def q_stream_watermark_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, executed for real on a 3-batch replay:

    - batch 0: the full table — every row on time, all windows in state;
    - batch 1: one duplicate of the max-ts row — its only job is to let
      the end-of-batch eviction run with the now-advanced watermark
      (max ts - 30 min), emitting and evicting every closed window;
    - batch 2: the first WEEK of events redelivered — every one late by
      >3 weeks against the in-force watermark, so all are dropped
      (verified via numRowsDroppedByWatermark > 0; if they leaked, the
      closed windows would re-emit with duplicate counts and the oracle
      hash would catch it).

    Final append-mode output: each window exactly once with its batch-0
    counts — i.e. the batch truth restricted to windows the final
    watermark closed, which is what the oracle states. The batch-1
    duplicate lands in the last (never-closed) window, which is never
    emitted, so it does not perturb the result.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "event_type", "value")
    bounds = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    week_cut = bounds.mn + timedelta(days=7)
    fresh = ev.orderBy(F.col("ts").desc(), "event_id").limit(1)
    stragglers = ev.filter(F.col("ts") < F.lit(week_cut))
    base = work_dir("wmdrop", sf_dir)
    flat = _write_chunks([ev, fresh, stragglers], base)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    ts = F.col("ts").cast("timestamp")
    agg = (
        stream.withColumn("ts", ts)
        .withWatermark("ts", f"{WM_MIN} minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(dec("value"), "sum_value"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_replay(spark, agg, base, shuffle_partitions=8)


@query(
    "q_stream_dedup_replay",
    oracle="""
    SELECT event_id, user_id, event_type, ts, value
    FROM events
    """,
    tags=("streaming", "dedup", "replay"),
)
def q_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup under full redelivery, executed for real: the whole
    events table arrives as micro-batch 1 and is redelivered byte-identical
    as micro-batch 2; ``dropDuplicatesWithinWatermark`` on event_id must
    emit each event exactly once. The watermark delay (90 days) exceeds the
    fixture's event-time span (~1 month), so no state expires and no legit
    row is late — the final table is exactly the input table."""
    ev = tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    base = work_dir("dedupreplay", sf_dir)
    flat = _write_chunks([ev, ev], base)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    deduped = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "value",
        )
    )
    return run_replay(spark, deduped, base, shuffle_partitions=8)


@query(
    "q_stream_stream_join_replay",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
    tags=("streaming", "join", "replay"),
)
def q_stream_stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution), executed
    for real: purchases and clicks are two streaming views over a 2-chunk
    replay, joined on user with a 1-hour lookback window, both sides
    watermarked. The 90-day watermark exceeds the fixture's event-time
    span, so no state is evicted before its partner can arrive and no
    late row is dropped — the streamed result must therefore be EXACTLY
    the batch interval join, which is what the oracle states. Each match
    is emitted once (inner-join append semantics).

    tests/test_stream_stream_join.py drives the state-eviction variant
    (2-hour watermark) against batch truth; this query gives the operator
    a hard driver verdict.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "user_id", "event_type")
    base = work_dir("ssjoin", sf_dir)
    flat = _write_chunks(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)], base
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "90 days")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "90 days")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return run_replay(spark, joined, base, shuffle_partitions=4)


@query(
    "q_stateful_running_totals_replay",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    even AS (  -- state after micro-batch 0 (the even-event_id chunk)
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS total_cents
      FROM ev WHERE event_id % 2 = 0 GROUP BY user_id
    ),
    allr AS (  -- state after micro-batch 1 (odd chunk merged on top)
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS n_odd
      FROM ev GROUP BY user_id
    )
    SELECT user_id, n_events, total_cents FROM even
    UNION ALL
    SELECT user_id, n_events, total_cents FROM allr WHERE n_odd > 0
    """,
    tags=("streaming", "stateful", "replay"),
)
def q_stateful_running_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARBITRARY stateful operator (applyInPandasWithState) with an exact
    oracle — upgrading the custom-state surface from pytest-only to a
    hard driver verdict: per-user running (count, total) maintained in
    group state across a deterministic 2-batch replay (chunked by
    event_id parity), one update row emitted per key per batch the key
    appears in.

    The final update-mode table is therefore: each user's totals over
    their even-id events (batch-0 emission, absent for users with no
    even events), plus each user's totals over ALL their events (batch-1
    emission, absent for users with no odd events) — exactly what the
    oracle states. Money accumulates as integer cents
    (floor(v*100 + .5), identical arithmetic in both engines), so the
    result is order-independent and hash-exact no matter how rows
    arrive within a batch. State is O(active users), stream-length
    independent — the scale contract of the custom-state API.
    """
    import pandas as pd
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = tables(spark, sf_dir)["events"].select("event_id", "user_id", "value")
    base = work_dir("statefulrt", sf_dir)
    flat = _write_chunks(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)], base
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_cents", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
    )

    def running(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})

    totals = stream.groupBy("user_id").applyInPandasWithState(
        running, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return run_replay(spark, totals, base, shuffle_partitions=8, output_mode="update")


@query(
    "q_stream_outer_join_replay",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    wm AS (  -- final global watermark: the sentinel chunks plant a row
             -- at the global max ts in BOTH streams, so each per-stream
             -- watermark (and their min) is global max event time - 2h
      SELECT (SELECT max(ts) FROM events) - INTERVAL 2 HOUR AS wm_ts
    ),
    matched AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.user_id AS user_id
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <= p.ts
    ),
    unmatched AS (
      SELECT p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
             p.user_id AS user_id
      FROM p
      WHERE NOT EXISTS (
              SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND c.ts >= p.ts - INTERVAL 1 HOUR
                AND c.ts <= p.ts)
        AND p.ts < (SELECT wm_ts FROM wm)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    tags=("streaming", "join", "outer", "replay"),
)
def q_stream_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, executed for real — the
    hardest Structured Streaming semantic: an unmatched left row may
    only emit (null-extended) once the watermark proves no matching
    right row can still arrive.

    Replay: two TIME-ORDERED data chunks (split at the median ts), 2-hour
    watermark on both sides, then TWO SENTINEL chunks. Time-ordering
    makes every row on time, and the interval shape (clicks at or before
    the purchase) means a purchase's partner clicks can never be in a
    later chunk than rows newer than the purchase — with the 2h delay, no
    click state is evicted while a reachable partner is pending (eviction
    needs wm > c_ts + 1h, but a matching later purchase has
    p_ts <= c_ts + 1h and would itself be on time).

    The sentinels make the final flush DETERMINISTIC instead of leaning
    on the version-sensitive no-data micro-batch
    (spark.sql.streaming.noDataMicroBatches.enabled): chunk 3 plants one
    purchase (user -1) and one click (user -2) at the global max ts —
    advancing BOTH per-stream watermarks to max_ts - 2h — and chunk 4
    repeats it with fresh ids so state eviction runs during a real data
    batch under that watermark, whichever batch boundary this engine
    evicts on. Sentinel users match nothing (distinct ids, no real user
    is negative) and sentinel purchases sit at the watermark origin
    (never < wm), so sentinels add zero output rows. Final table:

    - every batch inner match emits exactly once;
    - every unmatched purchase with p_ts < max_ts - 2h emits with a
      null click_id;
    - unmatched purchases inside the last 2h stay open (never emitted).

    The oracle states precisely that algebra; boundary ties (p_ts equal
    to the watermark to the microsecond) do not occur in the fixture.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "user_id", "event_type")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx
    base = work_dir("ssouter", sf_dir)

    def sentinels(purchase_id: int, click_id: int) -> DataFrame:
        return _literal_rows(
            spark,
            [(purchase_id, maxts, -1, "purchase"), (click_id, maxts, -2, "click")],
            ev.schema,
        )

    flat = _write_chunks(
        [
            ev.filter(F.col("ts") <= F.lit(half)),
            ev.filter(F.col("ts") > F.lit(half)),
            # ONE sentinel chunk: it advances the watermark to
            # max ts - 2h, and the trailing no-data micro-batch applies
            # that watermark for the final eviction/emission — a second
            # sentinel batch added a full stateful-join round for zero
            # output change (A/B-verified identical fingerprints, r8)
            sentinels(-1, -2),
        ],
        base,
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    # 2 state partitions: a stream-stream join keeps FOUR stores per
    # partition per batch; measured at sf0.1 the run scales ~linearly
    # with the partition count (store open/commit dominates the tiny
    # fixture), so the replay pins the smallest count that still
    # exercises multi-partition state
    return run_replay(spark, joined, base, shuffle_partitions=2)


@query(
    "q_stream_incremental_dedup",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE sha256(text) NOT IN (
      SELECT sha256(text) FROM documents WHERE doc_id < 250
    )
    """,
    tags=("streaming", "dedup", "incremental", "replay"),
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion: new documents stream in and are
    deduplicated against the STATIC already-ingested corpus (here the
    doc_id < 250 slice standing in for yesterday's deduped output) via a
    stream-static LEFT ANTI join on the content hash — the op a
    production pipeline runs on every append of fresh crawl data.

    The static side re-evaluates per micro-batch (stream-static join
    semantics), stays hash-projected (content never joins, only its
    sha256), and broadcasts when dimension-sized; at 100 TB the
    historical hash set is a bucketed table co-located on the hash.
    Exactness: the anti-join is set membership — no floats, no order
    sensitivity — so a 2-chunk replay must equal the batch anti-join,
    which is what the oracle states (within-batch duplicates of NEW
    content pass through by design; cross-batch exact dedup of new
    content is q_stream_dedup_replay's job).
    """
    d = tables(spark, sf_dir)["documents"]
    historical = d.filter(F.col("doc_id") < 250).select(
        F.sha2(F.col("text"), 256).alias("seen_hash")
    )
    ev = d.select("doc_id", "lang", "source", "text")
    base = work_dir("incdedup", sf_dir)
    flat = _write_chunks(
        [ev.filter(F.col("doc_id") % 2 == 0), ev.filter(F.col("doc_id") % 2 == 1)], base
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    fresh = (
        stream.withColumn("content_hash", F.sha2(F.col("text"), 256))
        .join(
            F.broadcast(historical),
            F.col("content_hash") == F.col("seen_hash"),
            "left_anti",
        )
        .select("doc_id", "lang", "source")
    )
    return run_replay(spark, fresh, base, shuffle_partitions=8)


@query(
    "q_continuous_aggregate",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "materialize", "replay"),
)
def q_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (hypertable-style incremental materialized
    view), executed for real: a 2-chunk ts-ordered replay drives an
    update-mode windowed agg whose every micro-batch dynamic-partition-
    overwrites exactly the (window, type) partitions it updated. After
    the stream drains, the materialized parquet table must equal the
    batch group-by — convergence of incremental maintenance is the thing
    the oracle hash-checks. State carries exact decimal sums, so chunk
    boundaries cannot perturb values."""
    from ..streaming.materialize import continuous_aggregate, read_continuous_aggregate

    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "event_type", "value")
    half = ev.agg(F.percentile_approx("ts", 0.5, 10000).alias("m")).collect()[0].m
    base = work_dir("contagg", sf_dir)
    flat = _write_chunks(
        [ev.filter(F.col("ts") <= F.lit(half)), ev.filter(F.col("ts") > F.lit(half))], base
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    mat_path = os.path.join(base, "materialized")
    writer = continuous_aggregate(
        stream,
        mat_path,
        watermark="30 minutes",
        window_size="1 day",  # partition count = days x types; the
        # hour-grain variant is the same operator with more partitions
    )
    run_replay(
        spark, writer, base, shuffle_partitions=8, state_provider=ROCKSDB_STATE_PROVIDER
    )
    return read_continuous_aggregate(spark, mat_path, window_size_sec=86400)


SESSION_GAP_H = 24  # session gap, hours
SESSION_WM_H = 72  # watermark delay, hours


@query(
    "q_stream_session_window_replay",
    oracle=f"""
    WITH m AS (SELECT max(ts) AS mx FROM events),
    s AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL {SESSION_GAP_H} HOUR THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    a AS (
      SELECT user_id, sid,
             min(ts) AS session_start,
             max(ts) + INTERVAL {SESSION_GAP_H} HOUR AS session_end,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM g GROUP BY 1, 2
    )
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM a, m
    WHERE epoch_us(session_end) // 1000
          <= epoch_us(mx) // 1000 - {SESSION_WM_H * 3600 * 1000}
    """,
    tags=("streaming", "session-window", "replay"),
)
def q_stream_session_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming SESSIONIZATION executed for real: per-user
    session windows (24 h inactivity gap) aggregated by Structured
    Streaming's session_window operator over a 2-batch replay, append
    mode, 72 h watermark.

    Replay schedule: batch 0 delivers the full table (all sessions build
    in state; nothing can be late); batch 1 redelivers one duplicate of
    the max-ts row, so end-of-batch eviction runs against the final
    watermark max(ts) - 72 h during a REAL data batch (the same
    no-data-batch-independence treatment q_stream_watermark_drop uses).
    The duplicate merges into the session that contains the global max
    ts, whose end (max ts + gap) is strictly above the watermark — that
    session is never emitted, so the perturbation is invisible.

    Final table = exactly the sessions whose end (last event + gap)
    closed at or before the final watermark; the oracle rebuilds them
    with gaps-and-islands window algebra and the same epoch-millisecond
    watermark arithmetic the engine uses. Hash-exact: counts are ints,
    sums ride decimals, boundaries are pure integer-ms comparisons.

    Scale: session state is per (user, open session) — bounded by active
    users, the canonical keyed-state shape; one shuffle on user_id.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "user_id", "ts", "value")
    fresh = ev.orderBy(F.col("ts").desc(), "event_id").limit(1)
    base = work_dir("sessreplay", sf_dir)
    flat = _write_chunks([ev, fresh], base)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{SESSION_WM_H} hours")
        .groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_H} hours"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(dec("value"), "sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_replay(spark, agg, base, shuffle_partitions=8)


@query(
    "q_stream_dedup_then_window_replay",
    oracle=f"""
    WITH wm AS (
      SELECT epoch_us(max(ts)) // 1000 - {WM_MIN * 60 * 1000} AS wm_ms FROM events
    )
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    HAVING epoch_us(window_end) // 1000 <= (SELECT wm_ms FROM wm)
    """,
    tags=("streaming", "stateful", "chained", "replay"),
)
def q_stream_dedup_then_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query — streaming
    dedup feeding a windowed aggregation (the multi-stateful-operator
    pipeline Structured Streaming supports natively since 3.5) — executed
    for real on a 3-batch replay:

    - batch 0: the full table; dedup passes everything through, all daily
      windows build in state, end-of-batch eviction (watermark advanced
      to max ts - 30 min) emits every closed window;
    - batch 1: the ENTIRE table redelivered — the dedup stage must
      swallow every duplicate (rows older than the in-force watermark are
      dropped as late before dedup; the fresh tail is deduplicated by
      event_id against retained state), so the aggregation sees nothing;
    - batch 2: one duplicate of the max-ts row — late-filter survivor,
      dedup kills it; state unchanged.

    Final table = daily counts of the DISTINCT events in windows closed
    by the final watermark — exactly what the oracle states. A dedup leak
    would double a count; a lost window would drop a row; either flips
    the hash verdict.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "event_type", "value")
    fresh = ev.orderBy(F.col("ts").desc(), "event_id").limit(1)
    base = work_dir("dedupwin", sf_dir)
    flat = _write_chunks([ev, ev, fresh], base)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{WM_MIN} minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    return run_replay(spark, agg, base, shuffle_partitions=8)


@query(
    "q_stream_semi_join_replay",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click'
          AND c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR
          AND c.ts <= p.ts
      )
    """,
    tags=("streaming", "join", "semi", "replay"),
)
def q_stream_semi_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — "purchases preceded by a
    click within the hour", emitted once per purchase no matter how many
    clicks matched. This is the streaming form of the attribution
    EXISTS-filter (and the third member of the stream-stream join family
    after inner and left-outer): semi-join state keeps only a
    matched/unmatched bit per buffered left row, so it is strictly
    cheaper than the inner join's full match materialization.

    As with the inner replay, the 90-day watermark exceeds the fixture's
    event-time span: no state eviction can precede a partner's arrival,
    so the streamed result must EXACTLY equal the batch EXISTS query the
    oracle states — duplicate emission (broken once-per-left semantics)
    or a lost buffered row flips the hash.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "user_id", "event_type")
    base = work_dir("ssemijoin", sf_dir)
    flat = _write_chunks(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)], base
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "90 days")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "90 days")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_semi",
    ).select("purchase_id", F.col("p_user").alias("user_id"))
    return run_replay(spark, joined, base, shuffle_partitions=4)


def build_full_outer_join_stream(spark: SparkSession, flat: str, schema) -> DataFrame:
    """The FULL OUTER stream-stream interval-join plan, factored so the
    product query (q_stream_full_outer_join_replay) and the chaos
    restart test exercise the SAME plan object — a test-side copy would
    silently go stale on the next edit (ADVICE r8). ``flat`` is the
    staged-chunk directory; ``schema`` the events projection schema."""
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "full_outer",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
    )


@query(
    "q_stream_full_outer_join_replay",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    wm AS (  -- sentinel chunks plant rows at the global max ts in BOTH
             -- streams, so the final watermark is max event time - 2h
      SELECT (SELECT max(ts) FROM events) - INTERVAL 2 HOUR AS wm_ts
    ),
    matched AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.user_id AS user_id
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <= p.ts
    ),
    unmatched_p AS (
      SELECT p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
             p.user_id AS user_id
      FROM p
      WHERE NOT EXISTS (
              SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND c.ts >= p.ts - INTERVAL 1 HOUR
                AND c.ts <= p.ts)
        AND p.ts < (SELECT wm_ts FROM wm)
    ),
    unmatched_c AS (  -- a click's last possible partner has
                      -- p_ts <= c_ts + 1h; evicted+emitted once the
                      -- watermark passes that horizon
      SELECT CAST(NULL AS BIGINT) AS purchase_id, c.event_id AS click_id,
             c.user_id AS user_id
      FROM c
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND c.ts >= p.ts - INTERVAL 1 HOUR
                AND c.ts <= p.ts)
        AND c.ts + INTERVAL 1 HOUR < (SELECT wm_ts FROM wm)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_p
    UNION ALL SELECT * FROM unmatched_c
    """,
    tags=("streaming", "join", "outer", "replay"),
)
def q_stream_full_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, executed for real —
    completes the stream-stream family (inner r4, left-outer r4, left-semi
    r5): BOTH sides now emit null-extended rows, each exactly when the
    watermark proves its partner can no longer arrive.

    Same sentinel-deterministic replay as q_stream_outer_join_replay
    (time-ordered halves, 2h watermarks, one sentinel chunk at the
    global max ts; the trailing no-data batch applies the final
    watermark for eviction). The new
    algebra is the RIGHT side: a click's reachable purchases satisfy
    p_ts <= c_ts + 1h, so an unmatched click emits null-extended only
    once wm passes c_ts + 1h — the oracle states both eviction horizons
    explicitly (p_ts < wm for purchases, c_ts + 1h < wm for clicks),
    and the driver hash checks every matched AND both unmatched
    populations. Boundary ties at the microsecond watermark do not
    occur in the fixture (same precondition as the left-outer replay).

    Scale: state is bounded by the join's time horizon on both sides
    (eviction is the semantics, not an optimization); keys partition by
    user_id, the fixture replay scopes state stores to 4 partitions.
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "user_id", "event_type")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx
    base = work_dir("ssfull", sf_dir)

    def sentinels(purchase_id: int, click_id: int) -> DataFrame:
        return _literal_rows(
            spark,
            [(purchase_id, maxts, -1, "purchase"), (click_id, maxts, -2, "click")],
            ev.schema,
        )

    flat = _write_chunks(
        [
            ev.filter(F.col("ts") <= F.lit(half)),
            ev.filter(F.col("ts") > F.lit(half)),
            # ONE sentinel chunk: it advances the watermark to
            # max ts - 2h, and the trailing no-data micro-batch applies
            # that watermark for the final eviction/emission — a second
            # sentinel batch added a full stateful-join round for zero
            # output change (A/B-verified identical fingerprints, r8)
            sentinels(-1, -2),
        ],
        base,
    )
    joined = build_full_outer_join_stream(spark, flat, ev.schema)
    # 2 state partitions — see q_stream_outer_join_replay's note;
    # in-memory state provider — bounded fixture state (HDFS_STATE_PROVIDER note)
    return run_replay(
        spark, joined, base, shuffle_partitions=2, state_provider=HDFS_STATE_PROVIDER
    )


def build_two_level_agg_stream(spark: SparkSession, flat: str, schema) -> DataFrame:
    """The chained two-level rollup plan (10-minute tumbling pre-agg
    feeding an hourly re-aggregation), factored so the product query
    (q_stream_two_level_agg_replay) and the between-epoch chaos restart
    test exercise the SAME plan object (the build_full_outer_join_stream
    pattern)."""
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ten_min = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
        )
    )
    return (
        ten_min.groupBy(
            F.window(F.window_time("w10"), "1 hour").alias("wh"), "event_type"
        )
        .agg(F.sum("n").alias("n_events"), F.sum("v").alias("v_sum"))
        .filter(~F.col("event_type").startswith("___wm"))
        .select(
            F.col("wh.start").alias("hour_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("v_sum").cast("double").alias("sum_value"),
        )
    )


@query(
    "q_stream_two_level_agg_replay",
    oracle="""
    WITH wm AS (  -- sentinel chunks pin the final watermark at
                  -- max event time - 30 minutes
      SELECT (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE AS wm_ts
    )
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT wm_ts FROM wm)
    """,
    tags=("streaming", "window", "chained", "replay"),
)
def q_stream_two_level_agg_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query: a 10-minute
    tumbling pre-aggregation feeding an hourly rollup re-aggregation —
    the multi-stateful-operator capability (Spark 3.4+) that hierarchical
    rollups (10min -> 1h -> 1d continuous aggregates) need without
    intermediate sinks. Level 1 closes 10-minute windows as the
    watermark passes them; level 2 re-windows their window-time
    (window_time = window.end - 1us) into hours and closes each hour
    exactly once all six constituent windows are final — watermark
    propagation through the first operator is what makes level-1 output
    NOT late for level 2.

    Replay: two time-ordered halves + one sentinel chunk at the global
    max ts (a zero-value row in a sentinel event_type whose final hour
    never closes, so it adds no output). Final table = hourly
    counts/decimal-exact sums for every hour with hour_end <= final
    watermark — stated verbatim by the oracle, hash-checked.

    Scale: level 1's state is (10-min window x type) partial aggregates
    — map-side combined, keys partitioned by (window, type); level 2
    holds one row per (hour, type) in flight. The rollup DAG never
    re-reads the raw stream: exactly the continuous-aggregate shape,
    expressed declaratively instead of via a second job over a sink.
    """
    ev = tables(spark, sf_dir)["events"].select("ts", "event_type", "value")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx
    base = work_dir("sstwolevel", sf_dir)

    def sentinel(tag: int) -> DataFrame:
        return _literal_rows(spark, [(maxts, f"___wm{tag}", 0.0)], ev.schema)

    flat = _write_chunks(
        [
            ev.filter(F.col("ts") <= F.lit(half)),
            ev.filter(F.col("ts") > F.lit(half)),
            # ONE sentinel chunk (see the full-outer replay note): the
            # no-data batch applies the final watermark through both
            # stateful operators
            sentinel(1),
        ],
        base,
    )
    hourly = build_two_level_agg_stream(spark, flat, ev.schema)
    # 2 state partitions: two chained stateful operators double the
    # per-partition store count; same fixture-scale measurement as the
    # outer-join replays. In-memory state provider (HDFS_STATE_PROVIDER note).
    return run_replay(
        spark, hourly, base, shuffle_partitions=2, state_provider=HDFS_STATE_PROVIDER
    )


@query(
    "q_stream_merge_sink_replay",
    oracle="""
    WITH base AS (  -- batch 0: initial snapshot load
      SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS v
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    final AS (
      SELECT k,
             CASE WHEN k % 6 = 0 THEN v + 10 ELSE v END AS v
      FROM base
      WHERE k % 9 != 0                      -- batch-1 deletes
      UNION ALL
      SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS v
      FROM orders
      WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0   -- batch-1 inserts
    )
    SELECT k, CAST(v AS DOUBLE) AS v FROM final
    """,
    tags=("streaming", "lakehouse", "merge", "eos", "replay"),
)
def q_stream_merge_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC ingest through the MERGE exactly-once sink
    (eos.py:MergeIdempotentSnapshotWriter): a 2-batch file-stream
    replay — batch 0 loads the initial keyed snapshot, batch 1 applies
    a mixed changeset (updates +10, deletes, inserts; one op per key by
    CASE construction) — lands via ``foreachBatch`` into the
    pointer-swap parquet snapshot, and the query returns the COMMITTED
    table read back through the writer's pointer. The oracle states the
    post-sequence snapshot algebraically, so a lost batch, a
    double-applied batch, an op misrouted (update-as-insert,
    delete-as-noop), or a stale pointer all flip the hash — this puts
    the round-6 third writer mode inside the driver-verified surface
    (its crash/replay/fencing paths are fake-crash pytest-covered in
    tests/test_eos_kafka.py).

    Scale shape: each epoch's merge is ONE keyed full-outer join of the
    snapshot against a batch-sized changeset (broadcast when small);
    commit is an atomic pointer object swap (object-store pattern), so
    readers see epoch N or N+1, never a torn table. DECIMAL values keep
    the hash exact.
    """
    from ..eos import MergeIdempotentSnapshotWriter

    o = tables(spark, sf_dir)["orders"]
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        dec("o_totalprice").alias("v"),
        F.lit("U").alias("_op"),
    )
    k = F.col("o_orderkey")
    changes = (
        o.filter(
            ((k % 3 == 0) & ((k % 6 == 0) | (k % 9 == 0)))
            | ((k % 3 == 1) & (k % 5 == 0))
        )
        .select(
            k.alias("k"),
            F.when(k % 9 == 0, F.lit(None).cast("decimal(12,2)"))
            .when(k % 6 == 0, dec("o_totalprice") + 10)
            .otherwise(dec("o_totalprice"))
            .cast("decimal(12,2)")  # +10 widens to (14,2); pin the chunk
            .alias("v"),
            F.when(k % 9 == 0, F.lit("D")).otherwise(F.lit("U")).alias("_op"),
        )
    )
    base_dir = work_dir("smerge", sf_dir)
    flat = _write_chunks([base, changes], os.path.join(base_dir, "chunks"))
    writer = MergeIdempotentSnapshotWriter(os.path.join(base_dir, "tbl"), key="k")
    stream = spark.readStream.schema(base.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    run_replay(spark, stream, base_dir, sink=writer, state_provider=ROCKSDB_STATE_PROVIDER)
    snap = writer.current(spark)
    return snap.select("k", F.col("v").cast("double").alias("v"))


@query(
    "q_stream_topk_window_replay",
    oracle="""
    WITH wm AS (
      SELECT (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE AS wm_ts
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             COUNT(*) AS n_events
      FROM events
      GROUP BY 1, 2
      HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT wm_ts FROM wm)
    )
    SELECT hour_start, event_type, n_events, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_start
                                   ORDER BY n_events DESC, event_type) AS rnk
      FROM hourly
    ) WHERE rnk <= 2
    """,
    tags=("streaming", "window", "topk", "replay"),
)
def q_stream_topk_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k leaderboard per closed window: an hourly tumbling
    count per event type (watermarked, append mode) feeds a foreachBatch
    sink that ranks each hour AT THE MOMENT IT CLOSES and appends the
    top-2 types to a results table — the trending-topics shape.

    Why rank in foreachBatch: append-mode emission is the correctness
    hinge — ALL (hour, type) cells of one hour share the same window
    end, so the watermark closes them in the SAME micro-batch, making
    the within-batch per-hour rank total and deterministic. Ranking any
    earlier (update mode / per-trigger) would publish provisional
    leaders; ranking any later (batch job over a sink) would forfeit the
    streaming property. The oracle states the final leaderboard for
    every closed hour verbatim — a window closed twice (duplicate
    emission), a provisional rank, or a missed late cell all flip the
    hash.

    Scale shape: the stateful aggregation holds one row per
    (hour, type) in flight; each foreachBatch ranks only the hours that
    closed in that batch (a watermark-bounded sliver, partitioned by
    hour). State and per-batch work are both bounded by the window/type
    grain, never by the stream length.
    """
    from pyspark.sql import Window as W

    ev = tables(spark, sf_dir)["events"].select("ts", "event_type")
    stats = ev.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m"), F.max("ts").alias("mx")
    ).collect()[0]
    half, maxts = stats.m, stats.mx
    base = work_dir("sstopk", sf_dir)

    def sentinel(tag: int) -> DataFrame:
        return _literal_rows(spark, [(maxts, f"___wm{tag}")], ev.schema)

    flat = _write_chunks(
        [
            ev.filter(F.col("ts") <= F.lit(half)),
            ev.filter(F.col("ts") > F.lit(half)),
            sentinel(1),
            sentinel(2),
        ],
        base,
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    hourly = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out_dir = os.path.join(base, "ranked")

    def rank_closed(batch_df: DataFrame, batch_id: int) -> None:
        closed = batch_df.filter(~F.col("event_type").startswith("___wm"))
        w = W.partitionBy("w").orderBy(F.col("n_events").desc(), "event_type")
        top = (
            closed.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 2)
            .select(
                F.col("w.start").alias("hour_start"),
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("rnk").cast("int").alias("rnk"),
            )
        )
        top.write.mode("append").parquet(out_dir)

    run_replay(
        spark,
        hourly,
        base,
        sink=rank_closed,
        shuffle_partitions=2,
        output_mode="append",
        state_provider=ROCKSDB_STATE_PROVIDER,
    )
    return spark.read.parquet(out_dir)


@query(
    "q_stream_wiredump_source_replay",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "connector", "python-datasource", "replay"),
)
def q_stream_wiredump_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest through the CUSTOM Python DataSource
    (sources/wiredump.py DataSourceStreamReader): events are framed with
    the wire codec into dump segments, the segment directory is tailed
    as a STREAM in two stages (half the corpus, processAllAvailable,
    then the second half — two real micro-batches over the connector's
    count-of-segments offset), and a complete-mode per-type aggregation
    lands in the sink. The final counts must equal the batch statement
    over the base table: a segment read twice across the offset
    boundary, skipped, or torn mid-frame flips the hash.

    This closes the connector triangle: batch read + committing write
    (q_wiredump_roundtrip) and now resumable streaming consumption —
    the stream reader advertises latestOffset() from the sorted segment
    listing, hands one InputPartition per segment in the offset range to
    EXECUTORS, and each task decodes its segment into Arrow
    RecordBatches; offset checkpointing and crash-replay (re-planning
    the partitions of an uncommitted range) are pytest-driven in
    tests/test_wiredump.py.

    Scale note: the stream reader is partition-parallel — each
    micro-batch fans its segments out across executors (the r9 upgrade
    from the driver-side simple reader), so ingest throughput scales
    with the cluster, which is the 100-TB-relevant property; segments
    are append-only with commit-time monotonic names, so an offset range
    is a stable file list.
    """
    from ..sources.wiredump import register

    register(spark)
    ev = tables(spark, sf_dir)["events"]
    frames = ev.select(
        F.create_map(F.lit("type"), F.array(F.col("event_type"))).alias("headers"),
        F.encode(F.col("props"), "utf-8").alias("payload"),
        (F.col("event_id") % 2).alias("half"),
    )
    base = work_dir("swiredump", sf_dir)
    seg_dir = os.path.join(base, "seg")

    def land(half: int) -> None:
        # repartition(4): four segment files per stage — the scan+encode
        # parallelizes across tasks (coalesce(1) serialized the whole
        # upstream into one task) and the streaming side gets four
        # InputPartitions per micro-batch to fan out over executors
        frames.filter(F.col("half") == half).drop("half").repartition(4).write.format(
            "wiredump"
        ).mode("append").save(seg_dir)

    stream = spark.readStream.format("wiredump").load(seg_dir)
    agg = (
        stream.select(
            F.element_at(F.col("headers"), "type").getItem(0).alias("event_type"),
            F.get_json_object(F.decode(F.col("payload"), "utf-8"), "$.k")
            .cast("bigint")
            .alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
    )
    # the second half lands while the query runs — a genuine new
    # micro-batch over the connector's offset
    return run_replay(
        spark,
        agg,
        base,
        shuffle_partitions=2,
        output_mode="complete",
        state_provider=ROCKSDB_STATE_PROVIDER,
        landings=[lambda: land(0), lambda: land(1)],
    )


@query(
    "q_stream_wiredump_sink_replay",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "connector", "python-datasource", "eos", "replay"),
)
def q_stream_wiredump_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EGRESS through the custom Python DataSource sink
    (sources/wiredump.py streamWriter): a 2-chunk file-stream replay of
    events is written as wire-frame segments by the streaming writer —
    per-epoch deterministic segment names assigned at commit, so a
    replayed epoch overwrites itself (idempotent exactly-once, pytest-
    crashed in tests/test_wiredump.py) — then the committed dump is read
    back with the batch reader and shredded into per-type aggregates
    the oracle states over the base table. A duplicated epoch, a lost
    task segment, or a torn frame flips the hash.

    With q_wiredump_roundtrip (batch R/W) and
    q_stream_wiredump_source_replay (streaming read), this completes
    the connector matrix: the engine can now sit on EITHER side of a
    wire-dump directory, batch or streaming, with commit protocols on
    every write path.
    """
    from ..sources.wiredump import register

    register(spark)
    ev = tables(spark, sf_dir)["events"].select(
        "ts",
        F.create_map(F.lit("type"), F.array(F.col("event_type"))).alias("headers"),
        F.encode(F.col("props"), "utf-8").alias("payload"),
    )
    stats = ev.agg(F.percentile_approx("ts", 0.5, 10000).alias("m")).collect()[0]
    base = work_dir("sswiresink", sf_dir)
    flat = _write_chunks(
        [
            ev.filter(F.col("ts") <= F.lit(stats.m)).drop("ts"),
            ev.filter(F.col("ts") > F.lit(stats.m)).drop("ts"),
        ],
        base,
    )
    out_dir = os.path.join(base, "dump")
    schema = ev.drop("ts").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    # Fan each micro-batch to 8 sink tasks: the replay delivers ONE file
    # per batch, so without this the Python DataSource sink encoded all
    # 50k frames in a single task (r16 durationMs: addBatch 5.4 s cold /
    # 1.1 s warm per batch). The commit protocol already supports
    # multiple segments per epoch (part-e{batch}-{seq}, same replayed-
    # epoch overwrite), the batch reader is one InputPartition per
    # segment, and the aggregate is partitioning-invariant — probed
    # identical result fingerprints, stream 2.9-7.9 -> 1.9-2.4 s at
    # sf0.1 (8 vs 16 tasks a tie; 8 matches the source replay's segment
    # fan precedent). At scale the upstream batch is already many
    # partitions and the fan is a cheap rebalance of ~100-byte rows.
    stream = stream.repartition(8)
    run_replay(
        spark,
        stream.writeStream.format("wiredump").option("path", out_dir),
        base,
        state_provider=ROCKSDB_STATE_PROVIDER,
    )
    back = spark.read.format("wiredump").load(out_dir)
    return (
        back.select(
            F.element_at(F.col("headers"), "type").getItem(0).alias("event_type"),
            F.get_json_object(F.decode(F.col("payload"), "utf-8"), "$.k")
            .cast("bigint")
            .alias("k"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("bigint").alias("sum_k"))
    )


@query(
    "q_statestore_introspection",
    oracle="""
    SELECT event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) + CAST(90 AS BIGINT) * 86400 * 1000000
             AS expires_at_micros
    FROM events
    """,
    tags=("streaming", "statestore", "introspection"),
)
def q_statestore_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STATE as a queryable table: after a
    dropDuplicatesWithinWatermark run over the full events stream, the
    query's RocksDB/HDFS state store is opened with Spark 4's
    `statestore` read format and every state row is emitted —
    (dedup key, expiry timestamp). The oracle states the exact expected
    state algebraically: one row per event_id, expiring at
    event-time + 90 days (the watermark delay), in microseconds. A
    missing key, a duplicate slot, or a wrong TTL in the store itself
    flips the hash — this is white-box verification INSIDE the engine's
    checkpoint, the debugging surface an operator reaches for when a
    stateful query misbehaves ("what is this job actually holding?").

    Scale shape: the state source reads per-partition store files in
    parallel (partition_id is a column); no stream is re-run. State
    size here is |distinct keys|; for windowed aggs the same reader
    exposes per-window partials (operatorId/storeName options select
    the operator in multi-stateful queries).
    """
    ev = tables(spark, sf_dir)["events"].select("event_id", "ts")
    base = work_dir("ssintro", sf_dir)
    flat = _write_chunks([ev], base)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    dedup = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    run_replay(
        spark,
        dedup.writeStream.format("noop"),
        base,
        shuffle_partitions=4,
        state_provider=ROCKSDB_STATE_PROVIDER,  # the store read below
    )
    state = spark.read.format("statestore").load(os.path.join(base, "ckpt"))
    return state.select(
        F.col("key.event_id").alias("event_id"),
        F.col("value.expiresAtMicros").alias("expires_at_micros"),
    )


@query(
    "q_stream_fanout_dual_sink_replay",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS v
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    upd AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) + 1 AS v
      FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 10 = 0
    ),
    snapshot AS (  -- keyed table after both epochs (last write wins)
      SELECT k, CASE WHEN k % 10 = 0 THEN v + 1 ELSE v END AS v FROM base
    ),
    log AS (  -- append log holds every change event exactly once
      SELECT k, v FROM base UNION ALL SELECT k, v FROM upd
    )
    SELECT 'log' AS sink, COUNT(*) AS n_rows,
           CAST(SUM(CAST(v AS DECIMAL(14,2))) AS DOUBLE) AS total_v
    FROM log
    UNION ALL
    SELECT 'snapshot' AS sink, COUNT(*) AS n_rows,
           CAST(SUM(CAST(v AS DECIMAL(14,2))) AS DOUBLE) AS total_v
    FROM snapshot
    """,
    tags=("streaming", "eos", "fanout", "replay"),
)
def q_stream_fanout_dual_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-sink fan-out with PER-SINK exactly-once: one CDC stream
    (base snapshot, then +1 updates for half the keys) feeds a single
    foreachBatch that writes BOTH an append LOG (epoch-idempotent file
    writer — the audit-trail sink) and a keyed SNAPSHOT (pointer-swap
    MERGE writer — the serving sink). Each sink carries its own commit
    protocol, so a replayed epoch dedups independently in both — the
    fan-out pattern every CDC pipeline ends up needing (log for
    reprocessing, table for serving).

    The oracle states both sinks after the 2-epoch run: the log holds
    every change event exactly once (a double-applied epoch doubles
    n_rows), the snapshot holds last-write-wins per key (a lost update
    or replayed merge shifts total_v). Cross-sink consistency is
    therefore part of the driver hash, not an aspiration.
    """
    from ..eos import ForeachBatchIdempotentWriter, MergeIdempotentSnapshotWriter

    o = tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey")
    base_rows = o.filter(k % 5 == 0).select(
        k.alias("k"), dec("o_totalprice").alias("v")
    )
    upd_rows = o.filter((k % 5 == 0) & (k % 10 == 0)).select(
        k.alias("k"), (dec("o_totalprice") + 1).cast("decimal(12,2)").alias("v")
    )
    base_dir = work_dir("fanout", sf_dir)
    flat = _write_chunks([base_rows, upd_rows], os.path.join(base_dir, "chunks"))

    log_writer = ForeachBatchIdempotentWriter(os.path.join(base_dir, "log"))
    snap_writer = MergeIdempotentSnapshotWriter(
        os.path.join(base_dir, "snap"), key="k"
    )

    def fanout(batch_df: DataFrame, epoch_id: int) -> None:
        # one materialization, two sinks — localCheckpoint keeps the
        # second write from recomputing the batch scan
        b = batch_df.localCheckpoint(eager=True)
        log_writer(b, epoch_id)
        snap_writer(b, epoch_id)

    stream = (
        spark.readStream.schema(base_rows.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    run_replay(spark, stream, base_dir, sink=fanout, state_provider=ROCKSDB_STATE_PROVIDER)

    log_df = spark.read.parquet(os.path.join(base_dir, "log", "batch_id=*"))
    snap_df = snap_writer.current(spark)
    summarize = lambda df, tag: df.agg(  # noqa: E731
        F.lit(tag).alias("sink"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").cast("decimal(14,2)")).cast("double").alias("total_v"),
    ).select("sink", "n_rows", "total_v")
    return summarize(log_df, "log").unionByName(summarize(snap_df, "snapshot"))


@query(
    "q_stream_available_now_incremental",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "trigger", "incremental", "replay"),
)
def q_stream_available_now_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled incremental batch via Trigger.AvailableNow: the SAME
    streaming query is STARTED TWICE against one checkpoint — run 1
    sees half the data, drains it, and stops on its own; more files
    land; run 2 drains exactly the delta and stops. Each run's batches
    land through the epoch-idempotent writer, and the final union of
    epoch directories must aggregate to the full-table truth: a
    re-processed file (offset loss between runs), a skipped delta, or a
    double-committed epoch all flip the hash.

    This is the pattern that replaces cron'd batch jobs at scale: the
    checkpoint carries the high-water mark, the trigger bounds each
    invocation, and the engine — not hand-rolled bookmark tables —
    guarantees each file is processed exactly once across invocations.
    """
    from ..eos import ForeachBatchIdempotentWriter

    ev = tables(spark, sf_dir)["events"].select("event_id", "ts", "event_type", "value")
    stats = ev.agg(F.percentile_approx("ts", 0.5, 10000).alias("m")).collect()[0]
    base = work_dir("savailnow", sf_dir)
    flat = os.path.join(base, "flat")  # _write_chunks' directory
    os.makedirs(flat)
    writer = ForeachBatchIdempotentWriter(os.path.join(base, "out"))
    stream = spark.readStream.schema(ev.schema).parquet(flat)
    # invocation 1 drains the backlog, invocation 2 exactly the delta
    run_replay(
        spark,
        stream,
        base,
        sink=writer,
        state_provider=ROCKSDB_STATE_PROVIDER,
        available_now=True,
        landings=[
            lambda: _write_chunks([ev.filter(F.col("ts") <= F.lit(stats.m))], base),
            lambda: _write_chunks([ev.filter(F.col("ts") > F.lit(stats.m))], base),
        ],
    )

    out = spark.read.parquet(os.path.join(base, "out", "batch_id=*"))
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


def _hll_merge_oracle() -> str:
    from .dedup2 import _h_sql
    from .sketches import HLL_BUCKETS

    return f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
      SELECT w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS tok
      FROM t, unnest(range(1, len(w))) AS u(i)
    ),
    vocab AS (SELECT DISTINCT tok FROM toks WHERE length(tok) >= 3),
    h AS (SELECT {_h_sql('tok', '0')} AS hv FROM vocab),
    reg AS (
      SELECT hv % {HLL_BUCKETS} AS bucket, hv // {HLL_BUCKETS} AS v FROM h
    ),
    rho AS (
      SELECT bucket,
             CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END AS r
      FROM reg
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MAX(r) AS BIGINT) AS max_rho
    FROM rho GROUP BY bucket
    """


@query(
    "q_stream_hll_merge_replay",
    oracle=_hll_merge_oracle(),
    tags=("streaming", "sketch", "mergeable-state", "replay"),
)
def q_stream_hll_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch-state maintenance: the corpus arrives in two
    micro-batches, each batch builds its PARTIAL HyperLogLog registers
    (the same portable construction q_hll_registers_portable verifies)
    and lands them through the epoch-idempotent writer; the final
    registers are the elementwise MAX-merge of all committed partials.
    The oracle computes registers over the WHOLE corpus in one shot —
    so the driver hash proves the mergeability law itself:
    merge(HLL(A), HLL(B)) == HLL(A union B), across real micro-batch
    boundaries with exactly-once partial commits. THIS is why
    fixed-size sketches are the distinct-count answer on an unbounded
    stream: per-batch state is 256 integers, merge is max(), and replay
    safety comes free from the epoch ledger.
    """
    from ..eos import ForeachBatchIdempotentWriter
    from .dedup2 import portable_hash64
    from .sketches import HLL_BUCKETS

    d = tables(spark, sf_dir)["documents"].select("doc_id", "text")
    base = work_dir("shllmerge", sf_dir)
    flat = _write_chunks(
        [d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)],
        base,
    )
    writer = ForeachBatchIdempotentWriter(os.path.join(base, "partials"))

    def partial_registers(batch_df: DataFrame, epoch_id: int) -> None:
        w = batch_df.select(F.split("text", " ").alias("w"))
        toks = w.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i-1], w[i]))"
                )
            ).alias("tok")
        ).filter(F.length("tok") >= 3)
        h = toks.select("tok").distinct().select(
            portable_hash64(F.col("tok"), 0).alias("hv")
        )
        reg = h.select(
            (F.col("hv") % HLL_BUCKETS).alias("bucket"),
            F.expr(f"hv DIV {HLL_BUCKETS}").alias("v"),
        )
        rho = reg.select(
            "bucket",
            F.when(F.col("v") == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(F.col("v"))))
            .alias("r"),
        )
        partial = rho.groupBy("bucket").agg(F.max("r").alias("max_rho"))
        writer(partial, epoch_id)

    stream = (
        spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    run_replay(
        spark, stream, base, sink=partial_registers, state_provider=ROCKSDB_STATE_PROVIDER
    )
    partials = spark.read.parquet(os.path.join(base, "partials", "batch_id=*"))
    return partials.groupBy("bucket").agg(
        F.max("max_rho").cast("bigint").alias("max_rho")
    ).select(F.col("bucket").cast("bigint").alias("bucket"), "max_rho")
