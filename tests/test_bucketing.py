"""Bucketing: pre-shuffled storage for co-located joins (SURVEY.md
"Partitioning & shuffle").

Writing both join sides bucketed by the join key means later joins read
co-located buckets and skip the shuffle entirely — on a 100 TB fact table
joined daily, that's the single biggest recurring saving. The test proves
the plan contains no Exchange on the join path.
"""

from __future__ import annotations

import pytest

from kafka_stream_service_spark.plans import physical_plan
from kafka_stream_service_spark.tables import tables


@pytest.fixture(scope="module")
def bucketed_warehouse(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    t = tables(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    (
        t["lineitem"]
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(wh / "li_bucketed"))
        .mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        t["orders"]
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(wh / "ord_bucketed"))
        .mode("overwrite")
        .saveAsTable("ord_bucketed")
    )
    return wh


def test_bucketed_join_has_no_shuffle(spark, bucketed_warehouse):
    li = spark.table("li_bucketed")
    orders = spark.table("ord_bucketed")
    # the merge hint keeps the small fixture sides from broadcasting, so
    # the join must pick a strategy needing distribution — bucketing
    # should satisfy it without an Exchange
    joined = (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
    )
    plan = physical_plan(joined)
    assert "SortMergeJoin" in plan, plan
    # no shuffle exchange feeding the join (bucketed scans are pre-distributed)
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan


def test_bucketed_join_result_correct(spark, bucketed_warehouse, sf_dir):
    from pyspark.sql import functions as F

    li = spark.table("li_bucketed")
    orders = spark.table("ord_bucketed")
    got = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    t = tables(spark, sf_dir)
    exp = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    assert {(r.o_orderstatus, r["count"]) for r in got} == {
        (r.o_orderstatus, r["count"]) for r in exp
    }
