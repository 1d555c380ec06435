"""Distributed inclusive prefix sums (parallel scan) over a total order.

Sibling of ``ranks.with_global_ranks`` — same two-phase range-partition
algorithm, generalized from ranks (prefix COUNT) to prefix SUM of
arbitrary integer columns. This is the scale-safe replacement for the
classic ``SUM(x) OVER (ORDER BY k)`` single-partition window: ECDFs,
rank-sum statistics, cumulative histograms, and Lorenz-style curves all
reduce to it.

Algorithm:

1. ``repartitionByRange(n, order_cols)`` — one range exchange puts a
   contiguous slice of the global order in each partition.
2. Per-partition inclusive running sums via a window partitioned BY
   PARTITION — fully parallel, no single-partition stage.
3. Per-partition column totals (|partitions| x |cols| scalars) are
   prefix-summed ON THE DRIVER — bounded by the partition count, never
   the data — and added back as chained-``when`` literal offsets (pure
   codegen, no join, no extra shuffle) while the partition count stays
   small, or as one broadcast hash join on the pid beyond
   ``_OFFSET_WHEN_MAX`` partitions (deep when-nesting defeats
   whole-stage codegen at cluster scale).

Exactness: sums are over integer (or decimal) columns, so the result is
independent of intra-partition evaluation order; the (order_cols) total
order only needs to be total over *distinct key rows* (callers pass a
pre-aggregated histogram frame, one row per distinct key).

The ``localCheckpoint`` between (2) and (3) pins partition ids: AQE
re-plans range exchanges per job, so without it the collected totals and
the downstream job could see different pid assignments (same hazard
documented in operators/ranks.py). Storage bill (VERDICT r13 #5): the
checkpoint materializes the ranged frame — input rows at input width
plus the pid and running-sum columns — to executor MEMORY_AND_DISK for
the query's lifetime. Callers pass pre-aggregated histogram frames
(one row per distinct key), so the bill is distinct-key-sized, not
corpus-sized; at 100 TB it is the histogram's bytes spread over
executor local storage, never the driver. See
ranks.with_global_ranks's docstring for the full accounting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier

PARTITION_COL = "__scan_pid"
# Same threshold as ranks.py: beyond this the O(partitions)-per-row
# when chain loses to the O(1) broadcast hash probe (and deep nesting
# defeats whole-stage codegen).
_OFFSET_WHEN_MAX = 16


def with_running_totals(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Returns ``df`` plus ``cum_<c>`` inclusive prefix sums for each
    ``c`` in ``sum_cols``, taken over the global ``order_cols`` order,
    computed without any single-partition window. ``num_partitions=None``
    (the default) data-sizes the range fan-out from the input frame —
    see ranks.data_sized_partitions."""
    if num_partitions is None:
        from .ranks import data_sized_partitions

        num_partitions = data_sized_partitions(df)
    ranged = df.repartitionByRange(
        num_partitions, *[F.col(c) for c in order_cols]
    ).withColumn(PARTITION_COL, F.spark_partition_id())
    w = (
        Window.partitionBy(PARTITION_COL)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = barrier(ranged.select(
        "*", *[F.sum(c).over(w).alias(f"__local_{c}") for c in sum_cols]
    ), "pin_partitions", eager=True)
    totals = {
        r[PARTITION_COL]: r
        for r in local.groupBy(PARTITION_COL)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    }
    offsets: dict[str, dict[int, int]] = {c: {} for c in sum_cols}
    acc = dict.fromkeys(sum_cols, 0)
    for pid in sorted(totals):
        for c in sum_cols:
            offsets[c][pid] = acc[c]
            acc[c] += totals[pid][c] or 0
    if len(totals) <= _OFFSET_WHEN_MAX:
        out = local
        for c in sum_cols:
            off: Column = F.lit(0)
            for pid, val in offsets[c].items():
                off = F.when(F.col(PARTITION_COL) == pid, F.lit(val)).otherwise(off)
            out = out.withColumn(
                f"cum_{c}", (F.col(f"__local_{c}") + off).cast("bigint")
            ).drop(f"__local_{c}")
        return out.drop(PARTITION_COL)
    # Cluster-scale partition counts: chained whens nest too deep for
    # whole-stage codegen — attach all columns' offsets as ONE broadcast
    # hash join on the pid (|partitions| rows, no data-scale shuffle);
    # same fallback as ranks.with_global_ranks.
    spark = local.sparkSession
    schema = f"{PARTITION_COL} int, " + ", ".join(f"__off_{c} bigint" for c in sum_cols)
    off_df = spark.createDataFrame(
        [
            (int(pid), *[int(offsets[c][pid]) for c in sum_cols])
            for pid in sorted(totals)
        ],
        schema,
    )
    out = local.join(F.broadcast(off_df), PARTITION_COL)
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}", (F.col(f"__local_{c}") + F.col(f"__off_{c}")).cast("bigint")
        ).drop(f"__local_{c}", f"__off_{c}")
    return out.drop(PARTITION_COL)
