"""Streaming operator wrappers (SURVEY.md §2.2 "Streaming-only").

These compose on any streaming DataFrame with an event-time column; the
batch-expressible equivalents are oracle-checked in ``queries/events_q.py``,
and ``tests/test_streaming.py`` drives these genuinely-streaming forms with
chunked file replay + watermarks + checkpoint restarts.

State-scale notes: watermarks bound all state here — windowed agg state is
(windows x keys) within the watermark horizon; dedup state is one entry per
key within the horizon; stream-static join keeps no state (the static side
is broadcast per micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _event_time(events: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (with local-tz semantics); fixture
    event time arrives as TIMESTAMP_NTZ — cast is lossless under the
    engine's pinned UTC session timezone."""
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        return events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def windowed_agg(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_size: str = "1 hour",
    slide: str | None = None,
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with late-data drop."""
    win = F.window(ts_col, window_size, slide) if slide else F.window(ts_col, window_size)
    return (
        _event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sessionized(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session-window aggregation (state merges adjacent windows within gap)."""
    return (
        _event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(key, F.session_window(ts_col, gap))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    keys: tuple[str, ...] = ("event_id",),
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming dedup: first occurrence per key wins; state expires with
    the watermark when ``within_watermark`` (dropDuplicatesWithinWatermark)
    — the only sane variant at 100 TB (unbounded-state dedup is a leak)."""
    with_wm = _event_time(events, ts_col).withWatermark(ts_col, watermark)
    if within_watermark:
        return with_wm.dropDuplicatesWithinWatermark(list(keys))
    return with_wm.dropDuplicates(list(keys))


def stream_static_join(
    events: DataFrame,
    static_dim: DataFrame,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: the static side is re-read/broadcast per
    micro-batch; no streaming state."""
    return events.join(F.broadcast(static_dim), on=on, how=how)
