"""Round-11 batch 17: the CUSUM drift detector AS A STREAM — the
one-sided mean-shift alarm of q_cusum_drift deployed the way production
runs it: reference statistics trained on a BASELINE window (days 1-15)
and broadcast, then the live day-grain series flows through
applyInPandasWithState keyed by event type, each group carrying the
single-integer CUSUM state s_t = max(0, s_{t-1} + dev_t). Joins the
arbitrary-stateful streaming tier next to the A-ES reservoir and the
index-probe dedup.

Reference parity note: the reference (StreamsApplication.java) is a
Kafka pass-through with no monitoring surface; this extends the
mandated streaming/monitoring tiers with a driver-oracled batch==stream
equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from ._util import work_dir
from .registry import query
from .streaming_replay import _write_chunks, run_replay

_CUSUM_BASE_DAYS = 15  # baseline window: day-of-month 1..15
_CUSUM_SPLIT_DOM = 23  # stream chunk boundary: 16..23, then 24..


def _cusum_stream_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, dom, x, dev_s, thr): the post-baseline daily
    series with the integer CUSUM increment and alarm threshold
    PRE-ATTACHED from the broadcast baseline stats — shared by the
    streaming replay and the chaos-restart test. dev_s = 8*n_b*x -
    9*total_b (the batch q_cusum_drift slack recipe: alarm drifts above
    9/8 of the baseline mean), thr = 2*n_b*total_b."""
    ev = tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        F.col("event_type"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.dayofmonth("ts").cast("bigint").alias("dom"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    base = (
        daily.filter(F.col("dom") <= _CUSUM_BASE_DAYS)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum("x").cast("bigint").alias("total_b"),
        )
    )
    return (
        daily.filter(F.col("dom") > _CUSUM_BASE_DAYS)
        .join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "day",
            "dom",
            "x",
            (8 * F.col("n_b") * F.col("x") - 9 * F.col("total_b"))
            .cast("bigint")
            .alias("dev_s"),
            (2 * F.col("n_b") * F.col("total_b")).cast("bigint").alias("thr"),
        )
    )


def build_cusum_stream(stream: DataFrame) -> DataFrame:
    """Wire the CUSUM state operator onto the prepared stream — exposed
    so the chaos-restart test drives the SAME operator through a
    kill-and-resume checkpoint cycle. State per event type is the
    single integer s (plus the last processed day for order sanity);
    each batch's arrived days are folded IN DAY ORDER."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("day", T.TimestampType()),
            T.StructField("x", T.LongType()),
            T.StructField("cusum_s", T.LongType()),
            T.StructField("alarm", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("s", T.LongType())])

    def cusum(key, pdfs, state: GroupState):
        s = state.get[0] if state.exists else 0
        rows = []
        for pdf in pdfs:
            rows.extend(
                zip(
                    pdf["day"].tolist(),
                    pdf["dom"].tolist(),
                    pdf["x"].tolist(),
                    pdf["dev_s"].tolist(),
                    pdf["thr"].tolist(),
                )
            )
        rows.sort(key=lambda r: r[1])  # fold strictly in day order
        out = []
        for day, _dom, x, dev, thr in rows:
            s = max(0, s + int(dev))
            out.append((day, int(x), s, 1 if s > int(thr) else 0))
        state.update((s,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(out),
                "day": [r[0] for r in out],
                "x": [r[1] for r in out],
                "cusum_s": [r[2] for r in out],
                "alarm": [r[3] for r in out],
            }
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        cusum, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


@query(
    "q_stream_cusum_replay",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(date_part('day', ts) AS BIGINT) AS dom,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(x) AS BIGINT) AS total_b
      FROM daily WHERE dom <= {_CUSUM_BASE_DAYS} GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.x,
             8 * b.n_b * d.x - 9 * b.total_b AS dev_s,
             2 * b.n_b * b.total_b AS thr
      FROM daily d JOIN base b USING (event_type)
      WHERE d.dom > {_CUSUM_BASE_DAYS}
    ),
    cs AS (
      SELECT event_type, day, x, thr,
             SUM(dev_s) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs_s
      FROM dev
    ),
    cm AS (
      SELECT event_type, day, x, thr, cs_s,
             LEAST(CAST(0 AS BIGINT),
                   MIN(cs_s) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS lo_s
      FROM cs
    )
    SELECT event_type, day, x,
           CAST(cs_s - lo_s AS BIGINT) AS cusum_s,
           CAST(CASE WHEN cs_s - lo_s > thr THEN 1 ELSE 0 END AS BIGINT)
             AS alarm
    FROM cm
    """,
    tags=("streaming", "stateful", "monitoring", "drift", "round11"),
)
def q_stream_cusum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM drift alarm: baseline reference stats (days
    1-15 per event type) are trained once and broadcast onto the live
    day-grain series, which replays in two deterministic micro-batches
    (days 16-23, then 24+) through a per-type group state holding the
    single integer s_t = max(0, s_{t-1} + dev_t). Each day emits its
    post-update CUSUM and alarm verdict exactly once, so the update-
    mode table is one row per (type, post-baseline day) — and the
    oracle computes the SAME recursion in closed form via the
    reflection identity s_t = cs_t - min(0, min_prefix cs) (the batch
    q_cusum_drift machinery), proving batch == stream by hash. The
    operator is the production shape: reference stats are a stored
    artifact in spirit (trained window, not re-derived per batch), and
    state is ONE integer per key — restart-safe (chaos pytest) and
    stream-length independent.

    Exactness: dev_s and thr are exact integers attached before the
    stream (8*n_b*x - 9*total_b, 2*n_b*total_b); the state fold is
    integer max/add in day order; nothing floating crosses Arrow.

    Scale shape: the rollup to day grain is the only data-scale
    stage; state is O(event types); per batch each key folds only its
    arrived days. The replay pins a small shuffle-partition count
    (state-store overhead is per partition per batch at fixture
    scale).
    """
    frame = _cusum_stream_frame(spark, sf_dir)
    base = work_dir("streamcusum", sf_dir)
    flat = _write_chunks(
        [
            frame.filter(F.col("dom") <= _CUSUM_SPLIT_DOM),
            frame.filter(F.col("dom") > _CUSUM_SPLIT_DOM),
        ],
        base,
    )
    stream = (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    alarmed = build_cusum_stream(stream)
    return run_replay(
        spark, alarmed, base, shuffle_partitions=4, output_mode="update"
    )
