"""Advanced operator coverage: exact percentiles, correlation, subqueries,
collect_list/set, explode variants, UDF surfaces (scalar pandas UDF,
grouped-map applyInPandas, UDTF-style 1->N), approx aggregates, and more
TPC-H query shapes (SURVEY.md §2.2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.ranks import data_sized_partitions
from ..tables import tables
from ._util import REVENUE_SQL, dec, dsum, revenue_expr
from .registry import query


@query(
    "q_percentiles_exact",
    oracle="""
    SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
      round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
      round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
      round(quantile_disc(l_extendedprice, 0.5), 6) AS median_price_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles via DISTRIBUTED RANKS (r14 replan).

    The previous plan used ``percentile()`` / exact percentile_approx
    GROUP BY aggregates, whose TypedImperativeAggregate buffers every
    value of a group in ONE reducer — with 3 return flags at 100 TB
    that is a third of the corpus per task, the inverse of the
    many-groups caveat and a guaranteed OOM. The replan
    (operators/ranks.group_exact_percentiles) collapses the corpus to
    its per-(group, value) histogram map-side, windows the HISTOGRAM
    per group for rank intervals, and reads each percentile as the
    value whose interval contains its computed rank — interpolation
    matches SQL percentile_cont exactly, and per-task state is bounded
    by the value DOMAIN (50 quantities / ~10^7 2-dp prices), never the
    corpus. Two histogram passes (one per value column)."""
    from ..operators.ranks import group_exact_percentiles

    li = tables(spark, sf_dir)["lineitem"]
    qty = group_exact_percentiles(
        li.select("l_returnflag", "l_quantity"),
        "l_returnflag", "l_quantity", cont=(0.5,),
    )
    pr = group_exact_percentiles(
        li.select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", cont=(0.25, 0.95), disc=(0.5,),
    )
    return qty.join(pr, "l_returnflag").select(
        "l_returnflag",
        F.round(qty["cont_5"], 6).alias("median_qty"),
        F.round(pr["cont_25"], 6).alias("p25_price"),
        F.round(pr["cont_95"], 6).alias("p95_price"),
        F.round(pr["disc_5"], 6).alias("median_price_disc"),
    )


@query(
    "q_corr_covar",
    oracle="""
    WITH d AS (
      SELECT CAST(l_quantity AS DECIMAL(18,2)) AS q,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS p
      FROM lineitem
    )
    SELECT
      COUNT(*) AS n,
      round((CAST(SUM(q*p) AS DOUBLE) - CAST(SUM(q) AS DOUBLE)*CAST(SUM(p) AS DOUBLE)/COUNT(*)) / (COUNT(*)-1), 6) AS covar_qp,
      round(((CAST(SUM(q*p) AS DOUBLE) - CAST(SUM(q) AS DOUBLE)*CAST(SUM(p) AS DOUBLE)/COUNT(*)))
            / sqrt((CAST(SUM(q*q) AS DOUBLE) - CAST(SUM(q) AS DOUBLE)*CAST(SUM(q) AS DOUBLE)/COUNT(*))
                 * (CAST(SUM(p*p) AS DOUBLE) - CAST(SUM(p) AS DOUBLE)*CAST(SUM(p) AS DOUBLE)/COUNT(*))), 6) AS corr_qp
    FROM d
    """,
    tags=("agg", "stats"),
)
def q_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance + Pearson correlation via exact decimal moments
    (bit-identical across engines; the engines' own streaming covar/corr
    differ in last ulps)."""
    li = tables(spark, sf_dir)["lineitem"]
    q = dec("l_quantity", 18, 2)
    p = dec("l_extendedprice")
    n = F.count(F.lit(1))
    sq, sp = F.sum(q).cast("double"), F.sum(p).cast("double")
    sqp = F.sum(q * p).cast("double")
    sqq, spp = F.sum(q * q).cast("double"), F.sum(p * p).cast("double")
    cov = (sqp - sq * sp / n) / (n - F.lit(1))
    corr = (sqp - sq * sp / n) / F.sqrt((sqq - sq * sq / n) * (spp - sp * sp / n))
    return li.agg(n.alias("n"), F.round(cov, 6).alias("covar_qp"), F.round(corr, 6).alias("corr_qp"))


@query(
    "q_collect_list_sorted",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name)), '|') AS nations,
           array_to_string(list_sort(list(DISTINCT n_nationkey % 5)), '|') AS key_mods
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("agg", "collect"),
)
def q_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set surfaced deterministically (sorted, then
    joined to a string so the output is driver-hashable)."""
    nt = tables(spark, sf_dir)["nation"]
    return nt.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("nations"),
        F.array_join(
            F.sort_array(F.collect_set(F.col("n_nationkey") % 5)).cast("array<string>"), "|"
        ).alias("key_mods"),
    )


@query(
    "q_approx_aggregates",
    # Derived oracle (round 5): the approx estimates themselves are
    # engine-specific, but their ERROR BOUNDS vs the exact counterparts
    # are not — the output carries the exact values (integer-safe cents)
    # plus bound booleans, which DuckDB reproduces as literal TRUEs. A
    # broken HLL/t-digest (or a broken exact agg) flips a column and
    # fails the hash gate, so this is a real check, not decoration.
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(2 * quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)
                AS BIGINT) AS exact_median_cents_x2,
           TRUE AS hll_within_5pct,
           TRUE AS tdigest_within_5pct
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx_count_distinct + t-digest percentile_approx, reduced to
    exact counterparts + error-bound booleans so the result is
    engine-portable and driver-hashable.

    Numeric notes: prices go through round(x*100) cents BIGINTs so the
    median interpolation (a + (b-a)*0.5 over integer-valued doubles) is
    exact in IEEE on both engines; doubling it yields a pure integer.
    HLL runs at rsd=0.01 and t-digest at accuracy=1000, so the 5%% bound
    is ~5 sigma — deterministic data, no flakiness margin needed.
    """
    from ..operators.ranks import group_exact_percentiles

    li = tables(spark, sf_dir)["lineitem"]
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    # The DISTINCT aggregate is computed in its own scan and broadcast-
    # attached (1 row), NOT mixed into the sketch agg: combining
    # countDistinct with approx_count_distinct + a percentile forces the
    # distinct-rewrite Expand to duplicate every row and drag the
    # HLL++/digest buffers through the expanded branches — measured 32 s
    # at sf0.1 vs ~2.5 s split (caught by bench's rest_single_pass tier,
    # r13); any pair without all three stays cheap. Two scans of the
    # fact beat one Expand-doubled scan at every scale.
    exact_d = li.agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    # Exact median via the value-histogram operator (r15: the last
    # surviving F.percentile call site, caught by the new source lint —
    # a GLOBAL percentile is the single-group worst case of the
    # buffering aggregate: every lineitem cents value in ONE reducer).
    # The histogram state is bounded by the 2-dp money DOMAIN, and its
    # one-group window ranks |distinct cents| rows, not |lineitem|.
    exact_m = group_exact_percentiles(
        li.select(cents.alias("__cents"), F.lit(1).alias("__g")),
        "__g",
        "__cents",
        cont=(0.5,),
    ).select(F.col("cont_5").alias("exact_median_cents"))
    agg = (
        li.agg(
            F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
            F.percentile_approx(cents, F.lit(0.5), F.lit(1000)).alias(
                "approx_median_cents"
            ),
        )
        .crossJoin(F.broadcast(exact_d))
        .crossJoin(F.broadcast(exact_m))
    )
    return agg.select(
        F.col("exact_orders").cast("bigint").alias("exact_orders"),
        (F.col("exact_median_cents") * 2).cast("bigint").alias("exact_median_cents_x2"),
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("hll_within_5pct"),
        (
            F.abs(F.col("approx_median_cents") - F.col("exact_median_cents"))
            <= 0.05 * F.col("exact_median_cents")
        ).alias("tdigest_within_5pct"),
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
    FROM orders
    WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
    """,
    tags=("subquery",),
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (orders above 2x the mean price).

    avg() appears only inside an inequality against data far from the
    threshold — last-ulp engine differences cannot flip row membership
    here (verified: no order sits within 1e-6 of the cut)."""
    t = tables(spark, sf_dir)
    t["orders"].createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS totalprice
        FROM orders
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


@query(
    "q_correlated_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
    tags=("subquery", "tpch"),
)
def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — planned as a left-semi join."""
    t = tables(spark, sf_dir)
    t["orders"].createOrReplaceTempView("orders")
    t["lineitem"].createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
        """
    )


@query(
    "q_shipmode_buckets",
    oracle="""
    SELECT l_linestatus,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    tags=("agg", "case-when", "tpch"),
)
def q_shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional-sum bucketing after a fact-fact join."""
    t = tables(spark, sf_dir)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_promo_revenue_ratio",
    oracle=f"""
    SELECT round(
      100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {REVENUE_SQL} ELSE 0 END) AS DOUBLE)
      / CAST(SUM({REVENUE_SQL}) AS DOUBLE), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    """,
    tags=("agg", "ratio", "tpch"),
)
def q_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share with a broadcast part join."""
    t = tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = revenue_expr()
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).cast("double")
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(F.lit(100.0) * promo / F.sum(rev).cast("double"), 6).alias("promo_revenue_pct"))
    )


@query(
    "q_explode_variants",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 20)
    SELECT doc_id, CAST(pos - 1 AS INT) AS pos, token
    FROM (SELECT doc_id, unnest(toks) AS token,
                 generate_subscripts(toks, 1) AS pos FROM t)
    WHERE pos - 1 < 5
    """,
    tags=("scalar", "explode"),
)
def q_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UDTF-style 1->N with position) over tokenized text."""
    d = tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 20)
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .filter(F.col("pos") < 5)
    )


@query(
    "q_levenshtein_similarity",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE a.p_partkey < 300 AND b.p_partkey < 300
      AND levenshtein(a.p_name, b.p_name) <= 4
    """,
    tags=("text", "similarity", "llm-data"),
)
def q_levenshtein_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-match pairs within brand blocks (fuzzy dedup
    tier for short strings; blocked to stay linear-ish)."""
    p = tables(spark, sf_dir)["part"].filter(F.col("p_partkey") < 300)
    a = p.select(F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"), "p_brand")
    b = p.select(F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"),
                 F.col("p_brand").alias("brand_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("p_brand") == F.col("brand_b")) & (F.col("key_a") < F.col("key_b")))
        .filter(dist <= 4)
        .select("key_a", "key_b", "name_a", "name_b", dist.alias("edit_dist"))
    )


@query(
    "q_udf_pandas_scalar",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens_py,
           CAST(round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS DOUBLE) AS chars_per_token
    FROM documents WHERE doc_id % 3 = 0
    """,
    tags=("udf", "pandas-udf"),
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python scalar-UDF surface (Arrow-vectorized pandas_udf) with an
    oracle: token counting done in Python must equal SQL splitting."""

    @F.pandas_udf(T.IntegerType())
    def n_tokens_udf(texts: pd.Series) -> pd.Series:
        return texts.str.split(" ").map(len).astype("int32")

    from ..operators.ranks import cpu_fanout

    # corpus-proportional Arrow lane: fan a narrow scan (no-op at scale)
    d = cpu_fanout(tables(spark, sf_dir)["documents"].filter(F.col("doc_id") % 3 == 0))
    nt = n_tokens_udf(F.col("text"))
    return d.select(
        "doc_id",
        nt.alias("n_tokens_py"),
        F.round(F.col("n_chars").cast("double") / nt, 4).alias("chars_per_token"),
    )


@query(
    "q_grouped_map_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mu,
             sqrt((CAST(SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                   - CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                     * CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
                  / (COUNT(*) - 1)) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, round((value - mu) / sigma, 6) AS zscore
    FROM events e JOIN stats USING (event_type)
    """,
    tags=("udf", "grouped-map"),
)
def q_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization (the
    canonical per-group pandas computation), oracle-checked against the
    window/moment formulation."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        v = pdf["value"].to_numpy(dtype="float64")
        mu = v.sum() / len(v)
        sigma = float(np.sqrt(((v * v).sum() - v.sum() * v.sum() / len(v)) / (len(v) - 1)))
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": ((v - mu) / sigma).round(6),
            }
        )

    e = tables(spark, sf_dir)["events"]
    return e.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, zscore double"
    )


@query(
    "q_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+')) AS n_word_tokens,
           regexp_extract_all(text, '\\b[bs][a-z]+')[1] AS first_bs_word,
           CAST(regexp_matches(text, 'spark') AS BOOLEAN) AS mentions_spark
    FROM documents WHERE doc_id % 11 = 0
    """,
    tags=("scalar", "regex", "text"),
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex token extraction (the BPE-ish regex-tokenizer tier)."""
    d = tables(spark, sf_dir)["documents"].filter(F.col("doc_id") % 11 == 0)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("([a-z]+)"), 1)).alias("n_word_tokens"),
        F.try_element_at(F.regexp_extract_all(F.col("text"), F.lit(r"(\b[bs][a-z]+)"), 1), F.lit(1)).alias(
            "first_bs_word"
        ),
        F.col("text").rlike("spark").alias("mentions_spark"),
    )


@query(
    "q_stream_static_enrich",
    oracle="""
    SELECT c_mktsegment, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
    tags=("streaming", "join"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-static enrichment join (events x customer
    dim, broadcast) — the streaming form is tests/test_streaming.py."""
    t = tables(spark, sf_dir)
    dim = t["customer"].select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (
        t["events"]
        .join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("value"), "sum_value"))
    )


@query(
    "q_interval_arithmetic",
    oracle="""
    SELECT o_orderkey,
      o_orderdate + INTERVAL 3 MONTH AS plus_3m,
      o_orderdate - INTERVAL 45 DAY AS minus_45d,
      CAST(date_diff('month', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS months_to_y2k,
      CAST((o_orderdate + INTERVAL 100 DAY > TIMESTAMP '1999-12-31 00:00:00') AS BOOLEAN) AS due_after_y2k
    FROM orders WHERE o_orderkey % 25 = 0
    """,
    tags=("scalar", "interval"),
)
def q_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic on timestamps (add/subtract months and days)."""
    o = tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") % 25 == 0)
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS")).alias("plus_3m"),
        (F.col("o_orderdate") - F.expr("INTERVAL 45 DAYS")).alias("minus_45d"),
        (
            (F.year(F.lit("2000-01-01").cast("date")) - F.year("o_orderdate")) * 12
            + (F.month(F.lit("2000-01-01").cast("date")) - F.month("o_orderdate"))
        ).alias("months_to_y2k"),
        (
            (F.col("o_orderdate") + F.expr("INTERVAL 100 DAYS"))
            > F.lit("1999-12-31").cast("timestamp")
        ).alias("due_after_y2k"),
    )


@query(
    "q_hash_functions",
    oracle="""
    SELECT s_suppkey,
           md5(s_name) AS name_md5,
           sha256(s_name) AS name_sha256,
           CAST(length(md5(s_name)) AS INT) AS md5_len
    FROM supplier
    """,
    tags=("scalar", "hash"),
)
def q_hash_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable hash functions (md5 / sha-256) — identical hex across
    engines, the basis of all content-addressed dedup."""
    s = tables(spark, sf_dir)["supplier"]
    return s.select(
        "s_suppkey",
        F.md5(F.col("s_name")).alias("name_md5"),
        F.sha2(F.col("s_name"), 256).alias("name_sha256"),
        F.length(F.md5(F.col("s_name"))).alias("md5_len"),
    )


@query(
    "q_union_missing_columns",
    oracle="""
    SELECT keysrc, nationkey, acctbal FROM (
      SELECT 'cust' AS keysrc, c_nationkey AS nationkey, CAST(c_acctbal AS DOUBLE) AS acctbal FROM customer
      UNION ALL
      SELECT 'nation' AS keysrc, n_nationkey AS nationkey, NULL AS acctbal FROM nation
    )
    """,
    tags=("setop", "union"),
)
def q_union_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName(allowMissingColumns=True): schema-evolving union where
    the missing column null-fills."""
    t = tables(spark, sf_dir)
    c = t["customer"].select(
        F.lit("cust").alias("keysrc"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    n = t["nation"].select(F.lit("nation").alias("keysrc"), F.col("n_nationkey").alias("nationkey"))
    return c.unionByName(n, allowMissingColumns=True)


@query(
    "q_cume_dist_percentiles",
    oracle="""
    SELECT s_suppkey, s_nationkey,
      round(CAST(CUME_DIST() OVER (ORDER BY s_acctbal, s_suppkey) AS DOUBLE), 6) AS bal_cume,
      NTILE(3) OVER (ORDER BY s_acctbal, s_suppkey) AS bal_tercile
    FROM supplier
    """,
    tags=("window", "rank"),
)
def q_cume_dist_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist + global ntile over the supplier balance order — both
    derived from ONE distributed ranked pass (round 12): supplier scales
    with SF (~100M rows at 100 TB), so the old single-partition window
    was a real collapse, not a dim-table freebie. On the unique total
    order (s_acctbal, s_suppkey), cume_dist degenerates to rank/N
    exactly (ties are impossible — suppkey is a key), and the tercile
    is the SQL-standard tile split computed arithmetically from
    (rank, N) — operators/ranks.py, no single-partition stage."""
    from ..operators.ranks import (
        COUNT_COL,
        RANK_COL,
        ntile_from_rank,
        with_global_ranks,
    )

    s = tables(spark, sf_dir)["supplier"].select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    ranked = with_global_ranks(s, "s_acctbal", "s_suppkey")
    n_row = ranked.agg(F.count(F.lit(1)).cast("bigint").alias(COUNT_COL))
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .select(
            "s_suppkey",
            "s_nationkey",
            F.round(
                F.col(RANK_COL).cast("double") / F.col(COUNT_COL).cast("double"), 6
            ).alias("bal_cume"),
            ntile_from_rank(3).alias("bal_tercile"),
        )
    )


@query(
    "q_cogroup_conversion_lag",
    oracle="""
    WITH c AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
    lagged AS (
      SELECT p.user_id, p.t,
             (SELECT MAX(c.t) FROM c
              WHERE c.user_id = p.user_id AND c.t <= p.t) AS last_click
      FROM p
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(last_click) AS BIGINT) AS n_matched,
           CAST(COALESCE(SUM(t - last_click), 0) AS BIGINT) AS total_lag_us
    FROM lagged GROUP BY user_id
    """,
    tags=("udf", "cogroup", "pandas", "asof"),
)
def q_cogroup_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COGROUPED pandas op (``groupBy().cogroup().applyInPandas``) — the
    two-stream grouped-map surface: per user, clicks and purchases
    arrive as two aligned pandas frames and a vectorized searchsorted
    matches each purchase to its latest click at or before it (a
    per-group as-of), emitting purchase counts and the exact total
    click-to-purchase lag in integer microseconds. Timestamps cross the
    Arrow boundary pre-converted to int64 epoch-us, so the pandas side
    is pure integer arithmetic with no tz/ns ambiguity.

    Scale shape: cogroup shuffles BOTH streams once on the group key and
    hands each key's pair of frames to one task — the right tool when
    the per-key logic (order-dependent matching) doesn't decompose into
    join + window. Per-key memory is that user's events, the same bound
    the stream-stream join replays carry; the reference's gRPC slot
    (R8) is this same Arrow-batched python-boundary shape one level up.
    """
    ev = tables(spark, sf_dir)["events"]
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "event_type",
    )
    clicks = base.filter(F.col("event_type") == "click").select("user_id", "t")
    purchases = base.filter(F.col("event_type") == "purchase").select("user_id", "t")

    def lag_stats(key, cl: pd.DataFrame, pu: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pu) == 0:
            return pd.DataFrame(
                {"user_id": [], "n_purchases": [], "n_matched": [], "total_lag_us": []}
            ).astype({"user_id": "int64", "n_purchases": "int64",
                      "n_matched": "int64", "total_lag_us": "int64"})
        pt = np.sort(pu["t"].to_numpy(dtype="int64"))
        ct = np.sort(cl["t"].to_numpy(dtype="int64")) if len(cl) else np.array([], dtype="int64")
        idx = np.searchsorted(ct, pt, side="right") - 1
        matched = idx >= 0
        lags = pt[matched] - ct[idx[matched]]
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "n_purchases": [int(len(pt))],
                "n_matched": [int(matched.sum())],
                "total_lag_us": [int(lags.sum()) if len(lags) else 0],
            }
        )

    # the per-user pandas work is CPU-bound on a few-MB shuffle that
    # AQE's byte-sized coalescing would fold onto one task, so both sides
    # take the same explicit-count exchange on the key (never coalesced;
    # the cogroup reuses it unshuffled). The count grows with the input
    # like any data-sized exchange; while the input is no bigger than an
    # empty one by that measure, one task per core, since a second wave
    # of Python tasks only adds worker round trips (this floor differs
    # from data_sized_partitions' own only below 8 cores)
    sized = data_sized_partitions(base)
    n = (
        sized
        if sized > data_sized_partitions(base.limit(0))
        else spark.sparkContext.defaultParallelism
    )
    return (
        clicks.repartition(n, "user_id").groupBy("user_id")
        .cogroup(purchases.repartition(n, "user_id").groupBy("user_id"))
        .applyInPandas(
            lag_stats,
            "user_id long, n_purchases long, n_matched long, total_lag_us long",
        )
    )
