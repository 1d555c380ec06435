"""TPC-H Q8/Q11/Q20/Q21 analogues, completing the 22-query shape sweep.

The fixtures carry no ``partsupp`` table and no
``l_commitdate``/``l_receiptdate`` columns, so Q11/Q20/Q21 are adapted to
preserve the *query shape* (the plan-relevant structure: scalar-subquery
threshold, nested IN-subqueries over aggregates, double-correlated
EXISTS/NOT EXISTS) on the columns that exist; the stand-ins are noted per
query. All revenue math decimal-exact (queries/_util.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from ._util import REVENUE_SQL, dec, revenue_expr
from .registry import query


@query(
    "q_national_market_share",
    oracle=f"""
    WITH all_lines AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST({REVENUE_SQL} AS DOUBLE) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN part ON l_partkey = p_partkey
      WHERE r_name = 'ASIA'
        AND p_type LIKE 'PROMO%'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           round(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM all_lines
    GROUP BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of the ASIA market for PROMO
    parts by order year. Eight-way join; every dimension side broadcast,
    the two fact tables shuffle once on the order key.
    """
    t = tables(spark, sf_dir)
    cn = t["nation"].select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_regionkey"))
    sn = t["nation"].select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lines = (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("cn_regionkey") == F.col("r_regionkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(
            F.broadcast(t["part"].filter(F.col("p_type").like("PROMO%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            revenue_expr().alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(16,4)")
        )
    )
    return lines.groupBy("o_year").agg(
        F.round(nation_vol.cast("double") / F.sum("volume").cast("double"), 6).alias("mkt_share")
    )


@query(
    "q_important_part_value",
    oracle=f"""
    WITH part_value AS (
      SELECT l_partkey, SUM({REVENUE_SQL}) AS value_dec
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_2'
      GROUP BY l_partkey
    )
    SELECT l_partkey, round(CAST(value_dec AS DOUBLE), 2) AS value
    FROM part_value
    WHERE CAST(value_dec AS DOUBLE) > (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.002 FROM part_value)
    """,
    tags=("tpch", "agg", "subquery"),
)
def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue through
    NATION_2 suppliers exceeds 0.2% of that nation's total — grouped
    aggregate filtered by a scalar subquery over the same aggregate.
    Lineitem revenue stands in for ps_supplycost*ps_availqty (no partsupp
    in the fixtures). The grouped frame is computed once and self-joined
    against its own global sum (Spark reuses the exchange under AQE).

    Both the per-part value and the global threshold are carried as EXACT
    decimal sums (order-independent) and cast to double only afterwards,
    so the strict > cut is applied to bit-identical values in Spark and
    the oracle — a double running sum would be partition-order-dependent.
    """
    t = tables(spark, sf_dir)
    nat = t["nation"].filter(F.col("n_name") == "NATION_2")
    part_value = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(revenue_expr()).alias("value_dec"))
    )
    threshold = part_value.agg((F.sum("value_dec").cast("double") * 0.002).alias("thr"))
    return (
        part_value.join(F.broadcast(threshold))
        .filter(F.col("value_dec").cast("double") > F.col("thr"))
        .select("l_partkey", F.round(F.col("value_dec").cast("double"), 2).alias("value"))
    )


@query(
    "q_excess_quantity_suppliers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE '%gizmo%'
        )
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 30
      )
    """,
    tags=("tpch", "subquery", "semi-join"),
)
def q_excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): NATION_1 suppliers who
    moved >30 units of some gizmo part in 1995-96 — nested IN-subqueries
    (part-filter inside a grouped HAVING inside a semi-join). The >30
    grouped threshold stands in for the 0.5*ps_availqty comparison.
    Both IN's become left-semi joins; the inner part filter broadcasts.
    """
    t = tables(spark, sf_dir)
    gadget_parts = t["part"].filter(F.col("p_name").like("%gizmo%")).select("p_partkey")
    heavy_suppliers = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(gadget_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity", 18, 2)).alias("qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_1")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(heavy_suppliers), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@query(
    "q_sole_failed_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND n_name = 'NATION_0'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    """,
    tags=("tpch", "subquery", "semi-join", "anti-join"),
)
def q_sole_failed_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): NATION_0
    suppliers whose line was the *only* returned one ('R') on a finished
    multi-supplier order — correlated EXISTS (another supplier on the
    order) plus correlated NOT EXISTS (no other supplier also returned).
    l_returnflag='R' stands in for l_receiptdate > l_commitdate (the
    fixtures carry no commit/receipt dates). The two correlated
    subqueries decorrelate to a semi- and an anti-join on l_orderkey,
    both against the same lineitem scan.
    """
    t = tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_0")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q_basket_part_pairs",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    part_orders AS (
      SELECT l_partkey, COUNT(*) AS n_orders FROM op GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS pair_orders
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT p.part_a, p.part_b,
           CAST(p.pair_orders AS BIGINT) AS pair_orders,
           CAST((p.pair_orders * 10000) // pa.n_orders AS BIGINT) AS conf_a_to_b_x10000,
           CAST((p.pair_orders * 10000) // pb.n_orders AS BIGINT) AS conf_b_to_a_x10000
    FROM pairs p
    JOIN part_orders pa ON pa.l_partkey = p.part_a
    JOIN part_orders pb ON pb.l_partkey = p.part_b
    ORDER BY pair_orders DESC, part_a, part_b
    LIMIT 20
    """,
    tags=("analytics", "basket", "join"),
)
def q_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the support/confidence core of
    association-rule analysis): the top-20 part pairs co-purchased in
    the same order, with both directional confidences as exact scaled
    integers (floor(10000 * pair/antecedent) — no float ratio in the
    hash). The input dedupes to DISTINCT (order, part) so repeated
    lineitems of one part do not inflate support.

    Scale shape: the pair join is keyed on l_orderkey, so fan-out per
    key is C(basket_size, 2) — baskets are small (TPC-H ≤ 7 items), so
    the "self-join" is really a bounded per-key expansion, NEVER an
    all-pairs over parts; the per-part order counts broadcast back onto
    the pair aggregate. For pathological mega-baskets, cap or sample
    the basket before pairing (same hot-bucket discipline as LSH).
    Final top-20 is a TakeOrdered.
    """
    li = tables(spark, sf_dir)["lineitem"]
    op = barrier(li.select("l_orderkey", "l_partkey").distinct(), "reuse")
    part_orders = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_orders"))
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    pa = part_orders.select(F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("na"))
    pb = part_orders.select(F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("pair_orders").cast("bigint").alias("pair_orders"),
            F.expr("(pair_orders * 10000) DIV na").cast("bigint").alias("conf_a_to_b_x10000"),
            F.expr("(pair_orders * 10000) DIV nb").cast("bigint").alias("conf_b_to_a_x10000"),
        )
        .orderBy(F.col("pair_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(20)
    )


@query(
    "q_order_cycle_time",
    oracle="""
    WITH lead AS (
      SELECT o_orderpriority,
             date_diff('day', o_orderdate, l_shipdate) AS days
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY days) AS BIGINT)
             AS p50_days,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY days) AS BIGINT)
             AS p90_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lead GROUP BY o_orderpriority
    """,
    tags=("tpch", "bi", "percentiles"),
)
def q_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment cycle time: order date -> item ship lag in
    days, summarized per order priority with EXACT discrete percentiles
    (p50/p90) — the supply-chain SLA report, and a priority-class audit
    (do urgent orders actually ship faster?). Day differences are
    integers, percentile_disc picks real elements: every output cell is
    integer-exact.

    Scale shape (r14 replan): one fact-fact equi-join on the natural
    key (orderkey — co-partitioned shuffle, AQE-coalesced), then exact
    per-class percentiles from the distributed ranked-histogram
    operator (operators/ranks.group_exact_percentiles) — the old
    percentile_disc GROUP BY buffered a fifth of the join output per
    reducer; the histogram of day-lags is a few hundred rows per class
    regardless of corpus size.
    """
    from ..operators.ranks import group_exact_percentiles

    t = tables(spark, sf_dir)
    lead = t["orders"].join(
        t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("days"),
    )
    pct = group_exact_percentiles(
        lead, "o_orderpriority", "days", disc=(0.5, 0.9)
    ).select(
        "o_orderpriority",
        F.col("n").alias("n_items"),
        F.col("disc_5").cast("bigint").alias("p50_days"),
        F.col("disc_9").cast("bigint").alias("p90_days"),
    )
    mx = lead.groupBy("o_orderpriority").agg(
        F.max("days").cast("bigint").alias("max_days")
    )
    return pct.join(mx, "o_orderpriority").select(
        "o_orderpriority", "n_items", "p50_days", "p90_days", "max_days"
    )
