"""Continuous aggregate: a streaming windowed agg that incrementally
maintains a queryable materialization (the hypertable/continuous-aggregate
pattern — the batch analogue is q_time_rollup_multigrain).

Mechanism: update-mode windowed aggregation → ``foreachBatch`` dynamic
partition overwrite. Each micro-batch emits only the (window, key) groups
it updated, with their CURRENT cumulative values; writing them with
partition-overwrite-dynamic replaces exactly those partitions of the
materialized table and touches nothing else. Readers see a plain
partitioned parquet table at any time.

Correctness properties:
- convergence: the last batch to update a group writes its final total
  (state carries exact decimal sums, so batch boundaries don't perturb
  values);
- replay idempotence: re-running an epoch rewrites the same partitions
  with the same content — no ledger needed, overwrite IS the upsert;
- partition key = the FULL group key (window epoch + group cols): a
  coarser key would delete sibling groups that didn't update in the
  batch.

At 100 TB the partition key choice is the design point: hour-epoch +
coarse key keeps partitions file-sized; a high-cardinality group key
moves into the file (sorted) rather than the directory tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries._util import dec, dsum
from .ops import _event_time


def continuous_aggregate(
    events: DataFrame,
    path: str,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    window_size: str = "1 hour",
    keys: tuple[str, ...] = ("event_type",),
):
    """The maintenance stream's writer (update mode into ``write_batch``),
    unstarted: the caller sets the checkpoint and starts it.

    The materialization at ``path`` is partitioned by
    ``(ws_epoch, *keys)`` and carries ``n_events`` / ``sum_value``.
    """
    agg = (
        _event_time(events, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_size), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(dec("value"), "sum_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws_epoch"),
            *keys,
            "n_events",
            "sum_value",
        )
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Dynamic mode replaces ONLY the partitions present in this batch
        # — the incremental upsert; a static overwrite would wipe the
        # whole table every batch. The writer option scopes it to this
        # write and leaves the session's mode alone. Empty batches
        # (no-data flushes) are skipped.
        if batch_df.isEmpty():
            return
        batch_df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("ws_epoch", *keys).parquet(path)

    return agg.writeStream.outputMode("update").foreachBatch(write_batch)


def read_continuous_aggregate(
    spark: SparkSession, path: str, window_size_sec: int = 3600
) -> DataFrame:
    """Read the materialization back as (window_start, window_end, keys,
    aggregates) with NTZ window bounds (partition dirs carry the epoch)."""
    m = spark.read.parquet(path)
    ws = F.timestamp_seconds(F.col("ws_epoch"))
    return m.select(
        ws.cast("timestamp_ntz").alias("window_start"),
        (ws + F.expr(f"INTERVAL {window_size_sec} SECOND")).cast("timestamp_ntz").alias(
            "window_end"
        ),
        *[c for c in m.columns if c not in ("ws_epoch",)],
    )
