"""One coalesce policy: the session keeps Spark's default AQE floor and a
narrow CPU-bound lane sets its own width in its plan.

AQE coalesces shuffle partitions by BYTES, so a small-byte but CPU-heavy
stage (the 16-md5 shingle-type dictionary, the per-user pandas cogroup)
would be folded onto one task. Those lanes take an explicit-count hash
exchange on their key (``repartition(n, key)``, shuffle origin
``REPARTITION_BY_NUM``), which AQE never coalesces, with ``n`` from
``operators.ranks.data_sized_partitions`` (the cogroup drops to cluster
width while its input is small). No query touches session conf at build
time, so the order in which frames are built and forced cannot change
how any of them runs.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from kafka_stream_service_spark.operators.ranks import data_sized_partitions
from kafka_stream_service_spark.plans.inspect import _tree_nodes, physical_plan

FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
USER_ID = r"hashpartitioning\(user_id#\d+L?, "


def _exchanges(df, part: str, final: bool = True) -> list[tuple[str, int, str]]:
    """(origin, width, child) of each exchange whose partitioning
    arguments start with the regex ``part`` followed by the count, in
    top-down plan order. In the FINAL adaptive plan (``df`` must have been executed)
    width is the count the exchange's reader gets, -1 when a coalescing
    ``AQEShuffleRead`` sits over it; otherwise the planned count of the
    initial plan. ``child`` is the title of the node under the exchange."""
    plan = physical_plan(df)
    trees = plan.split("== Initial Plan ==")
    if final:
        assert "== Final Plan ==" in plan, plan
    nodes = _tree_nodes(trees[0] if final else trees[-1])

    def parent(i: int) -> int:
        return next(j for j in range(i - 1, -1, -1) if nodes[j][0] < nodes[i][0])

    def arguments(nid: str, title: str) -> str:
        m = re.search(rf"^\({nid}\) {title}\n(?:.+\n)*?Arguments: (.*)$", plan, re.M)
        return m.group(1) if m else ""

    out = []
    for i, (depth, title, nid) in enumerate(nodes):
        m = title == "Exchange" and re.match(
            rf"(?:{part})(\d+)\), (\w+)", arguments(nid, title)
        )
        if not m:
            continue
        child = nodes[i + 1][1]
        width = int(m.group(1))
        if final:
            _, read_title, read_id = nodes[parent(parent(i))]  # over its query stage
            if read_title == "AQEShuffleRead" and arguments(
                read_id, read_title
            ).startswith("coalesced"):
                width = -1
        out.append((m.group(2), width, child))
    return out


def test_minhash_type_dictionary_keeps_its_width(spark, sf_dir):
    from kafka_stream_service_spark.operators.dedup import word_shingles_from_tokens
    from kafka_stream_service_spark.queries.dedup2 import (
        K,
        SHINGLE_N,
        typed_minhash_signatures,
    )
    from kafka_stream_service_spark.tables import tables

    sh = (
        tables(spark, sf_dir)["documents"]
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id",
            word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles"),
        )
    )
    sig = typed_minhash_signatures(sh, K)
    sig.collect()
    n = data_sized_partitions(sh.select("doc_id", F.explode("shingles").alias("s")))
    # the distinct keeps its map-side partial aggregate under its own
    # (coalescible) exchange; the md5 stage reads the explicit-count one.
    # The test session's 8 shuffle partitions equal n on a 4-core host,
    # where a hash exchange on s would be planned away
    assert _exchanges(sig, r"hashpartitioning\(s#\d+L?, |RoundRobinPartitioning\(") == [
        ("REPARTITION_BY_NUM", n, "HashAggregate"),
        ("ENSURE_REQUIREMENTS", -1, "HashAggregate"),
    ]


def test_cogroup_sides_keep_one_shared_width(spark, sf_dir):
    from kafka_stream_service_spark.queries import QUERIES

    df = QUERIES["q_cogroup_conversion_lag"].spark_fn(spark, sf_dir)
    df.collect()
    # one exchange per side at cluster width while the input is small,
    # and no second shuffle for the cogroup
    n = spark.sparkContext.defaultParallelism
    assert [w for _, w, _ in _exchanges(df, USER_ID)] == [n, n]


def test_cogroup_width_grows_with_its_input(spark, sf_dir):
    """Past the data-sized floor the cogroup exchange grows with the
    plan-time size estimate, so a large events table never runs in
    cluster-width tasks. A one-byte ``maxPartitionBytes`` makes the
    fixture estimate large (data_sized_partitions caps it at 8x cluster)."""
    from kafka_stream_service_spark.queries import QUERIES

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        df = QUERIES["q_cogroup_conversion_lag"].spark_fn(spark, sf_dir)
        planned = _exchanges(df, USER_ID, final=False)
    finally:
        spark.conf.set(key, old)
    n = 8 * spark.sparkContext.defaultParallelism
    assert [(o, w) for o, w, _ in planned] == [("REPARTITION_BY_NUM", n)] * 2


def test_build_order_leaves_session_conf_alone(spark, sf_dir):
    """A harness may build several frames before forcing any of them, in
    any order; a build that re-pins session conf would change how the
    OTHER frames run. Building an iterative graph row and then building
    and forcing the md5 signature lane must leave the floor untouched."""
    from kafka_stream_service_spark.queries import QUERIES

    before = spark.conf.get(FLOOR_KEY)
    QUERIES["q_triangle_oriented"].spark_fn(spark, sf_dir)
    after_graph_build = spark.conf.get(FLOOR_KEY)
    QUERIES["q_pair_index_snapshot"].spark_fn(spark, sf_dir).collect()
    after_md5_lane = spark.conf.get(FLOOR_KEY)
    assert before == after_graph_build == after_md5_lane
