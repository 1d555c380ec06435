"""Round-7 operator batch 10: event-time TIMEOUT handling in the
arbitrary-stateful API — the last uncovered corner of
applyInPandasWithState (q_stateful_running_totals_replay covers state
mutation; this covers GroupStateTimeout.EventTimeTimeout + hasTimedOut
+ state.remove, the mechanism behind every custom sessionizer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from .registry import query
from .streaming_replay import _write_chunks, run_replay
from ._util import work_dir

# deliberately odd values: no event-time in the fixtures lands exactly on
# a session_end + GAP == max_ts - DELAY boundary (checked at every SF),
# so >= vs > watermark-comparison semantics cannot flip the result
_GAP_MIN = 123
_DELAY_MIN = 61


@query(
    "q_stateful_timeout_sessions_replay",
    oracle=f"""
    WITH lagged AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      FROM events
    ),
    seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - pts > INTERVAL {_GAP_MIN} MINUTE THEN 1 ELSE 0 END AS brk
      FROM lagged
    ),
    isl AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    sess AS (
      SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM isl GROUP BY user_id, sid
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sid DESC) AS rn
      FROM sess
    ),
    m AS (SELECT MAX(ts) AS m FROM events)
    SELECT user_id, session_start, session_end, n_events
    FROM ranked, m
    WHERE rn > 1
       OR session_end + INTERVAL {_GAP_MIN} MINUTE < m - INTERVAL {_DELAY_MIN} MINUTE
    """,
    tags=("streaming", "stateful", "timeout", "replay"),
)
def q_stateful_timeout_sessions_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionizer on applyInPandasWithState with EVENT-TIME
    TIMEOUTS, executed for real over a 2-batch time-split replay: each
    user's open session lives in group state; a session closes (and is
    emitted) either when a later event of the same user arrives more
    than 123 min after it (closure by data) or when the event-time
    watermark passes its last event + gap (closure by timeout —
    hasTimedOut=True, state.remove()). Sessions still open when the
    stream ends are never emitted.

    The oracle is the batch gaps-and-islands sessionization with the
    final-session watermark filter. Why batch == streamed here, exactly:
    the replay splits at the median event time, so any chunk-0 session
    old enough to time out before batch 1 (last + gap < wm0 =
    max_ts0 - delay) is by arithmetic more than gap away from every
    chunk-1 event — early timeout can never pre-empt a merge the batch
    form would have made. Gap/delay are odd-minute values with zero
    exact-boundary collisions at every SF (checked), so the >= vs >
    watermark comparison cannot flip a row.

    Scale shape: state is one open session per active user (stream-
    length independent); timeouts are the mechanism that bounds state
    under churn — exactly what this query certifies."""
    ev = tables(spark, sf_dir)["events"].select("event_id", "user_id", "ts")
    bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2  # time-range midpoint
    base = work_dir("statefultimeout", sf_dir)
    flat = _write_chunks(
        [ev.filter(F.col("ts") < F.lit(mid)), ev.filter(F.col("ts") >= F.lit(mid))], base
    )
    sessions = build_timeout_sessions_stream(spark, ev.schema, flat)
    # Inherit the SESSION shuffle width (no per-query pin): this row's
    # cost is applyInPandasWithState's per-group Python execution inside
    # addBatch (r16 durationMs breakdown: addBatch 9.7 of 10.7 s trigger
    # total; planning/commit under 1 s), so Python-lane parallelism is
    # what the row buys with width. The old pin of 8 dated from the
    # RocksDB-provider era when per-partition store open/commit dominated
    # these fixtures; with the in-memory provider default (r15) the probe
    # reads 8/16/32 partitions = 8.5-12.4 / 7.2 / 5.7-5.8 s stream time
    # at sf0.1 (identical 82,498 output rows). Session width also keeps
    # the knob scale-adaptive instead of a local[32] constant. Join
    # replays measured the OPPOSITE (4 stores/partition/batch: full-outer
    # 2.7-5.3 s at 2 parts vs 8.6-9.2 at 32) and keep their small pins.
    out = run_replay(spark, sessions, base, output_mode="update")
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


def build_timeout_sessions_stream(spark: SparkSession, ev_schema, flat: str) -> DataFrame:
    """The sessionizer's streaming plan, factored out so the chaos tier
    (tests/test_chaos_restart.py) can drive a kill-between-epochs +
    checkpoint-resume over the SAME plan: event-time timeout timers must
    re-arm from recovered state after a restart — the most
    restart-sensitive state shape in the catalog (VERDICT r7 #5)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{_DELAY_MIN} minutes")
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    gap_us = _GAP_MIN * 60 * 1_000_000

    def sessionize(key, pdfs, state: GroupState):
        def row(start_us: int, end_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield row(start_us, last_us, n)
            return
        ts_us = np.sort(
            np.concatenate(
                [pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64") for pdf in pdfs]
            )
        )
        cur = state.get if state.exists else None
        for t in ts_us:
            t = int(t)
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_us:
                yield row(*cur)
                cur = (t, t, 1)
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
        state.update(cur)
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)  # ms epoch
        return

    return stream.groupBy("user_id").applyInPandasWithState(
        sessionize, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
    )
