"""Storage-layout and data-quality queries: bucketed co-located joins
and table profiling.

tests/test_bucketing.py asserts the PLAN property (no Exchange feeding a
bucketed join); q_bucketed_join adds the driver-verified RESULT property
— bucketing must be invisible to answers. q_table_profile is the
ANALYZE-style column audit every ingestion pipeline runs before
accepting a drop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import tables
from ._util import dec, dsum, work_dir
from .registry import query

BUCKETS = 8


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("storage", "bucketing", "join"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED storage: both sides written
    bucketBy(8, orderkey) + sortBy, then joined WITHOUT any exchange on
    the join path (the plan property tests/test_bucketing.py asserts;
    broadcast is disabled here so bucketing, not a broadcast, satisfies
    the distribution). The oracle is the plain join — bucketing must be
    result-invisible.

    At 100 TB this is the single biggest recurring saving for a fact
    table joined daily: the shuffle is paid ONCE at write time and
    amortized over every subsequent join.
    """
    t = tables(spark, sf_dir)
    wh = work_dir("bucketed", sf_dir)
    for name, df, key in (
        ("li_b", t["lineitem"].select("l_orderkey", "l_extendedprice"), "l_orderkey"),
        ("ord_b", t["orders"].select("o_orderkey", "o_orderstatus"), "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(BUCKETS, key)
            .sortBy(key)
            .option("path", f"{wh}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    li = spark.table("li_b")
    orders = spark.table("ord_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum(dec("l_extendedprice"), "sum_price"),
            )
        )
        # materialize under the no-broadcast conf so the executed plan is
        # the bucket-co-located sort-merge join, then restore the session
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


@query(
    "q_table_profile",
    oracle="""
    SELECT 'l_orderkey' AS col, COUNT(*) AS n,
           COUNT(*) - COUNT(l_orderkey) AS nulls,
           COUNT(DISTINCT l_orderkey) AS n_distinct,
           CAST(MIN(l_orderkey) AS DOUBLE) AS min_v,
           CAST(MAX(l_orderkey) AS DOUBLE) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
           COUNT(DISTINCT l_quantity), CAST(MIN(l_quantity) AS DOUBLE),
           CAST(MAX(l_quantity) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT l_discount), CAST(MIN(l_discount) AS DOUBLE),
           CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(l_tax),
           COUNT(DISTINCT l_tax), CAST(MIN(l_tax) AS DOUBLE),
           CAST(MAX(l_tax) AS DOUBLE)
    FROM lineitem
    """,
    tags=("quality", "profile", "agg"),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (count / nulls / distinct / min /
    max) for four lineitem columns — the data-quality gate an ingestion
    pipeline runs before accepting a batch. ONE scan computes all four
    profiles (the aggregates fuse into a single HashAggregate; the
    oracle's UNION form is the semantic statement, not the plan)."""
    li = tables(spark, sf_dir)["lineitem"]
    cols = ["l_orderkey", "l_quantity", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) as (col, n, nulls, n_distinct, min_v, max_v)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', {c}__n, {c}__nulls, {c}__nd, {c}__min, {c}__max" for c in cols
                ),
            )
        )
    )
    return stacked


@query(
    "q_multi_format_join",
    oracle="""
    SELECT r.r_name AS region, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("storage", "federation", "join"),
)
def q_multi_format_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format federation in ONE plan: the parquet fact (customer)
    joined against a CSV dim (nation) and a JSON-lines dim (region) —
    the mixed-source reality of production lakes. Both dims rewrite to
    their text formats with explicit read schemas (no inference
    nondeterminism), then broadcast into the join; the oracle reads the
    original tables, so any format-conversion loss flips the hash."""
    t = tables(spark, sf_dir)
    wh = work_dir("fedjoin", sf_dir)
    nation, region = t["nation"], t["region"]
    nation.write.mode("overwrite").option("header", True).csv(f"{wh}/nation_csv")
    region.write.mode("overwrite").json(f"{wh}/region_json")
    n_csv = (
        spark.read.schema(nation.schema).option("header", True).csv(f"{wh}/nation_csv")
    )
    r_json = spark.read.schema(region.schema).json(f"{wh}/region_json")
    c = t["customer"]
    return (
        c.join(F.broadcast(n_csv), c["c_nationkey"] == n_csv["n_nationkey"])
        .join(F.broadcast(r_json), n_csv["n_regionkey"] == r_json["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(dec("c_acctbal"), "sum_acctbal"),
        )
    )


@query(
    "q_histogram_equidepth",
    oracle="""
    WITH ranked AS (
      SELECT l_extendedprice,
             ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
      FROM lineitem
    )
    SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n,
           MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM ranked
    GROUP BY bucket
    """,
    tags=("agg", "histogram", "stats"),
)
def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram of prices via the distributed
    exact ntile (round 12) — the optimizer-statistics shape. The tile
    order carries (orderkey, linenumber) tie-breaks so bucket membership
    is a total order both engines agree on exactly; the two columns
    collapse into one unique bigint tiebreak (orderkey * 8 + linenumber
    — linenumber is 1..7, so the packing is order-preserving), and the
    buckets come from operators/ranks.py's two-phase ranks + the exact
    SQL-standard tile split. No single-partition sort; the approximate
    path remains percentile_approx (q_approx_aggregates)."""
    from ..operators.ranks import NTILE_COL, with_global_ntile

    li = tables(spark, sf_dir)["lineitem"].select(
        "l_extendedprice",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__tb"),
    )
    return (
        with_global_ntile(li, 8, "l_extendedprice", "__tb")
        .select("l_extendedprice", F.col(NTILE_COL).alias("bucket"))
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            dsum(dec("l_extendedprice"), "sum_price"),
        )
    )


def _zorder_oracle() -> str:
    from ..operators.zorder import interleave_bits_sql

    z = interleave_bits_sql("qb", "pb")
    return f"""
    WITH b AS (
      SELECT CAST(l_quantity AS INT) - 1 AS qb,
             least(CAST(floor(l_extendedprice / 2000) AS INT), 63) AS pb,
             l_quantity, l_extendedprice
      FROM lineitem
    ),
    z AS (SELECT *, CAST({z} AS BIGINT) AS zv FROM b)
    SELECT CAST(zv // 16 AS BIGINT) AS zcell, COUNT(*) AS n,
           MIN(l_quantity) AS q_lo, MAX(l_quantity) AS q_hi,
           MIN(l_extendedprice) AS p_lo, MAX(l_extendedprice) AS p_hi
    FROM z GROUP BY 1
    """


@query(
    "q_zorder_cells",
    oracle=_zorder_oracle(),
    tags=("storage", "zorder", "data-skipping"),
)
def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) locality audit: bucket quantity and price, bit-
    interleave the buckets (operators/zorder.py — pure integer
    arithmetic, engine-identical), and aggregate per coarse z-cell. The
    per-cell min/max of BOTH raw columns demonstrates the data-skipping
    property a z-ordered layout buys (each z-range is tight in both
    dimensions — the file-level effect is asserted in
    tests/test_zorder.py); the oracle recomputes the interleave bit-for-
    bit. Map-side + one cell groupBy."""
    from ..operators.zorder import interleave_bits

    li = tables(spark, sf_dir)["lineitem"]
    qb = (F.col("l_quantity").cast("int") - 1)
    pb = F.least(F.floor(F.col("l_extendedprice") / 2000).cast("int"), F.lit(63))
    z = interleave_bits(qb, pb)
    return (
        li.select("l_quantity", "l_extendedprice", z.alias("zv"))
        .groupBy(F.expr("zv DIV 16").cast("bigint").alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_quantity").alias("q_lo"),
            F.max("l_quantity").alias("q_hi"),
            F.min("l_extendedprice").alias("p_lo"),
            F.max("l_extendedprice").alias("p_hi"),
        )
    )


@query(
    "q_csv_permissive_dirty",
    oracle="""
    SELECT COUNT(*) FILTER (o_orderkey % 13 != 0) AS n_good,
           COUNT(*) FILTER (o_orderkey % 13 = 0) AS n_corrupt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                FILTER (o_orderkey % 13 != 0) AS DOUBLE) AS sum_price_good
    FROM orders
    """,
    tags=("source", "dirty-data", "csv"),
)
def q_csv_permissive_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-ingest handling with a driver verdict: a CSV drop where
    every 13th record is a malformed line (no delimiter, unparseable),
    read back in PERMISSIVE mode with a corrupt-record column — bad rows
    become (NULL, NULL, raw-line) instead of killing the job (the same
    poison-message philosophy as the codec DLQ lane,
    pipeline.run_pipeline_with_dlq). The oracle states the expected
    good/corrupt partition analytically from the construction rule, so a
    parser that silently drops or mis-routes a line flips the hash."""
    t = tables(spark, sf_dir)
    wh = work_dir("dirtycsv", sf_dir)
    lines = t["orders"].select(
        F.when(
            F.col("o_orderkey") % 13 == 0,
            F.concat(F.lit("CORRUPT"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(
            F.concat_ws(",", F.col("o_orderkey").cast("string"), dec("o_totalprice").cast("string"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(f"{wh}/drop")
    back = (
        spark.read.schema("k long, price double, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(f"{wh}/drop")
    )
    out = back.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), dec("price"))).cast("double").alias("sum_price_good"),
    )
    # CSV column pruning changes PERMISSIVE semantics: when a query never
    # references `k`, the parser skips it and a short/unparseable line is
    # NOT flagged corrupt (observed: n_corrupt=0). Materialize under
    # pruning disabled so the full-row parse — the semantics a DLQ lane
    # needs — is what executes; restore the session conf after.
    prev = spark.conf.get("spark.sql.csv.parser.columnPruning.enabled", "true")
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    try:
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", prev)
    return out


@query(
    "q_partition_overwrite",
    oracle="""
    WITH d0 AS (SELECT min(date_trunc('day', ts)) AS day0 FROM events)
    SELECT date_trunc('day', ts) = (SELECT day0 FROM d0) AS is_corrected_day,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))
                    + CASE WHEN date_trunc('day', ts) = (SELECT day0 FROM d0)
                           THEN 1 ELSE 0 END) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    tags=("lakehouse", "partition-overwrite", "backfill"),
)
def q_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent single-partition BACKFILL via dynamic partition
    overwrite — the daily-pipeline correction op: the events table is
    written day-partitioned, then the earliest day is rewritten with
    corrected values (+1.00 each) in ONE write that must replace ONLY
    that day's directory (partitionOverwriteMode=dynamic; static mode
    would wipe every other day). The oracle states the expected final
    table — original days untouched, corrected day shifted — so both an
    over-wide overwrite and a no-op overwrite flip the hash."""
    ev = tables(spark, sf_dir)["events"].select(
        "event_id", "ts", dec("value").alias("value"), F.date_trunc("day", "ts").alias("day")
    )
    wh = work_dir("partover", sf_dir)
    path = f"{wh}/events_by_day"
    ev.write.partitionBy("day").mode("overwrite").parquet(path)
    day0 = ev.agg(F.min("day")).collect()[0][0]
    corrections = ev.filter(F.col("day") == F.lit(day0)).withColumn(
        "value", dec(F.col("value") + 1)
    )
    corrections.write.partitionBy("day").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(
        (F.col("day") == F.lit(day0)).alias("is_corrected_day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


@query(
    "q_wiredump_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(4 AS BIGINT) AS n_segments
    FROM events
    GROUP BY event_type
    """,
    tags=("storage", "connector", "python-datasource", "codec"),
)
def q_wiredump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full custom-connector round trip through the PySpark 4 Python
    DataSource API (sources/wiredump.py): events are framed with the
    engine's wire codec and written as length-prefixed dump segments via
    ``df.write.format("wiredump")`` (task-temp + rename-on-commit), then
    read back as a TABLE via ``spark.read.format("wiredump")`` — one
    input partition per segment — and shredded (event type from the
    frame headers, k from the JSON payload) into per-type aggregates the
    oracle computes from the base columns. A lost frame, a corrupted
    header block, a partial segment surviving commit, or a misassembled
    partition all flip the hash; n_segments pins the writer's
    task-to-segment contract (repartition(4) -> exactly 4 files).

    This is the extension path for formats Spark has no JVM reader for
    (here: the reference ecosystem's message-dump shape) — parallelism
    comes from segment files, the codec is the same decode_py the wire
    tests golden-check, and for natively-readable formats the native
    reader path (storage_q's parquet/CSV/JSON/ORC/Avro queries) remains
    the fast path.
    """
    from ..sources.wiredump import register

    register(spark)
    ev = tables(spark, sf_dir)["events"]
    frames = ev.repartition(4).select(
        F.create_map(
            F.lit("type"), F.array(F.col("event_type")),
            F.lit("user"), F.array(F.col("user_id").cast("string")),
        ).alias("headers"),
        F.encode(F.col("props"), "utf-8").alias("payload"),
    )
    path = os.path.join(work_dir("wiredump", sf_dir), "seg")
    frames.write.format("wiredump").mode("append").save(path)
    back = spark.read.format("wiredump").load(path)
    shred = back.select(
        F.element_at(F.col("headers"), "type").getItem(0).alias("event_type"),
        F.get_json_object(F.decode(F.col("payload"), "utf-8"), "$.k")
        .cast("bigint")
        .alias("k"),
        "_file",
    )
    return shred.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.count_distinct("_file").cast("bigint").alias("n_segments"),
    )
