"""Physical-plan assertions: scale-readiness is checked, not hoped for.

Every flagship plan must (a) broadcast its dimension joins, (b) push
filters into the parquet scan, (c) never degenerate into a cartesian
product, and (d) keep whole-stage codegen on the relational spine.
"""

from __future__ import annotations

import catalog_plans
import pytest

from kafka_stream_service_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    count_shuffle_exchanges,
    physical_plan,
)
from kafka_stream_service_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_flagship_broadcasts_dims(spark):
    df = QUERIES["q02_revenue_by_nation"].spark_fn(spark, SF)
    plan = assert_broadcast_join(df, at_least=2)  # customer + nation
    # every node on the spine is codegen-capable (no interpreted/Python ops)
    assert "Python" not in plan and "ArrowEval" not in plan


def test_q05_six_way_join_shape(spark):
    df = QUERIES["q05_regional_supplier_volume"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=3)  # customer, supplier, nation⋈region
    assert_no_cartesian(df)


def test_q06_filter_pushdown(spark):
    df = QUERIES["q06_forecast_revenue_filter"].spark_fn(spark, SF)
    # shipdate range + quantity bound reach the parquet scan
    assert_pushed_filters(df, "l_shipdate")
    assert_pushed_filters(df, "l_quantity")


def test_q01_partial_aggregation(spark):
    """The group-by plans partial (map-side) aggregation before the
    exchange — only 6 groups cross the shuffle."""
    plan = physical_plan(QUERIES["q01_pricing_summary"].spark_fn(spark, SF))
    assert "partial_sum" in plan
    # map-side HashAggregate node precedes the Exchange node in the tree
    # (Spark numbers children first: HashAggregate(4) feeds Exchange(5))
    import re

    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    exch_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange", plan)]
    assert agg_ids and exch_ids and min(agg_ids) < min(exch_ids)


def test_topk_plans_as_take_ordered(spark):
    """orderBy().limit(k) must plan as TakeOrderedAndProject — no global
    sort materialization."""
    plan = physical_plan(QUERIES["q_sort_limit_topk"].spark_fn(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_stays_semi(spark):
    plan = physical_plan(QUERIES["q_join_semi"].spark_fn(spark, SF))
    assert "LeftSemi" in plan


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the full lineitem schema."""
    df = QUERIES["q06_forecast_revenue_filter"].spark_fn(spark, SF)
    plan = physical_plan(df)
    scan_lines = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scan_lines, plan
    # only the needed lineitem columns appear in the read schema
    assert any(
        "l_returnflag" not in line and "l_orderkey" not in line
        for line in scan_lines
    ), scan_lines


def test_no_cartesian_anywhere_in_catalog(catalog_sweep):
    """No catalog query may plan a cartesian product (the explicit
    crossJoin of the two 5/25-row dims is the one sanctioned exception —
    it plans as BroadcastNestedLoopJoin, not CartesianProduct).

    A query whose plan fails to BUILD is itself a failure (VERDICT r12
    next-steps #2): the old ``except Exception: continue`` let a broken
    query silently escape this gate. Every catalog query plans cleanly
    at sf0.001 today, so no build failure is allowlisted."""
    broken = catalog_plans.broken(catalog_sweep)
    assert not broken, (
        "queries whose plan failed to BUILD (these escape every plan "
        f"gate — fix or allowlist with a reason): {broken}"
    )
    bad = catalog_plans.cartesian(catalog_sweep)
    assert not bad, f"cartesian products in: {bad}"


def test_no_complex_output_columns_anywhere_in_catalog(catalog_sweep):
    """Every catalog row emits atomic columns only: a harness that sorts
    a result by all its columns cannot hash a list-, map- or
    struct-valued cell. Serialize such a column (array_join, to_json)."""
    bad = catalog_plans.complex_outputs(catalog_sweep)
    assert not bad, f"array/map/struct output columns in: {bad}"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        ("q_asof_join", 1),  # union-tag composition: ONE shuffle on the key
        ("q_training_corpus_pipeline", 2),  # dedup window + final groupBy
        ("q_dedup_embedding_cosine", 2),  # block key + dup-id groupBy
    ],
)
def test_shuffle_budget(spark, name, max_exchanges):
    """SCALE.md's shuffle inventory is enforced: these compositions must
    not regress into extra exchanges."""

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"


@pytest.mark.parametrize("name", ["q02_revenue_by_nation", "q10_returned_items"])
def test_no_python_in_relational_spine(spark, name):
    """Relational queries stay entirely JVM-side (no Python/Arrow eval
    nodes in the plan)."""
    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    assert "Python" not in plan and "ArrowEval" not in plan


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        ("q_pack_sequences", 1),  # ONE shuffle: the per-source window
        ("q_corpus_mixture", 3),  # source counts + global sum + final groupBy
        ("q_stratified_sample", 1),  # ONE shuffle: the per-lang rank
    ],
)
def test_training_ops_shuffle_budget(spark, name, max_exchanges):

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"
    assert "Python" not in plan and "ArrowEval" not in plan, "training ops must stay JVM-side"


def test_hash_sample_is_map_side_only(spark):
    """The deterministic sampler is a pure scan+filter: zero exchanges,
    and the md5-prefix filter must not block column pruning."""

    plan = physical_plan(QUERIES["q_hash_sample"].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n == 0, f"sampler shuffled:\n{plan}"
    assert "Python" not in plan


def test_mixture_broadcasts_rate_table(spark):
    """The per-source rate table (20 rows) must broadcast into the filter
    join — a shuffle join here would move the whole corpus to join 20
    rows."""
    df = QUERIES["q_corpus_mixture"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)


def test_salted_join_is_shuffle_join_with_spread_keys(spark):
    """q_salted_skew_join must actually exercise the salted SHUFFLE path:
    a sort-merge join on the composite (key, salt), no broadcast —
    broadcasting would silently bypass the skew mitigation the query
    exists to prove correct (which is what happened before force_shuffle:
    at test SF the planner broadcast the exploded side)."""
    plan = physical_plan(QUERIES["q_salted_skew_join"].spark_fn(spark, SF))
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, "salted join degenerated to broadcast"
    assert "_salt" in plan  # composite key reached the join


def test_decontamination_broadcasts_benchmark_side(spark):
    """The eval-set n-gram side is tiny by construction and must
    broadcast; a shuffle join here would move the full corpus n-gram
    explosion — the exact failure mode at 100 TB."""
    df = QUERIES["q_decontaminate_ngram"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_partitioned_write_prunes_directories(spark):
    """q_partitioned_pruning's re-read must carry the lang filter as a
    PARTITION filter (directory pruning — zero IO for other langs), not
    just a data filter after a full scan."""
    import re

    plan = physical_plan(QUERIES["q_partitioned_pruning"].spark_fn(spark, SF))
    m = re.search(r"PartitionFilters: \[[^\]]*lang[^\]]*\]", plan)
    assert m, f"lang never became a partition filter:\n{plan[:3000]}"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        ("q_chunk_documents", 0),   # pure map-side: tokenize/enumerate/slice
        ("q_zorder_cells", 1),      # ONE shuffle: the z-cell groupBy
        ("q_kmeans_assign_int8", 1),  # centroids broadcast; one vec_id groupBy
        ("q_upsert_merge", 2),      # the merge full-outer join (+AQE reads)
        ("q_rolling_anomaly", 1),   # ONE shuffle: the per-user window
        ("q_ewma_smoothing", 1),    # ONE shuffle: the per-user window
    ],
)
def test_round5_ops_shuffle_budget(spark, name, max_exchanges):
    """Round-5 operators carry the same enforced shuffle inventory as the
    training ops: map-side stages stay map-side, single-shuffle shapes
    stay single-shuffle."""

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"


def test_kmeans_assign_broadcasts_centroids(spark):
    """The Lloyd assignment step must broadcast the k x dim centroid
    table (BroadcastNestedLoopJoin from the bounded crossJoin) — a
    shuffle here would move the corpus to meet 8 rows."""
    plan = physical_plan(QUERIES["q_kmeans_assign_int8"].spark_fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_hard_negatives_broadcasts_queries(spark):
    df = QUERIES["q_hard_negatives"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)


def test_boilerplate_broadcasts_df_flags(spark):
    """The bigram DF/flag table is vocabulary-sized and must broadcast
    back onto the corpus instance stream."""
    df = QUERIES["q_boilerplate_bigrams"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """At 100 TB a selective dim-side predicate should reach the fact
    scan as a runtime bloom filter when the join can't broadcast —
    Spark's InjectRuntimeFilter does this, gated on the application
    side looking scan-heavy (>= 10 GB by default). Locally the fixture
    never crosses that gate, so pin the thresholds and assert the
    might_contain filter lands on the fact side AND the result is
    unchanged — proving the engine configuration keeps this scale path
    available."""
    from kafka_stream_service_spark.tables import tables
    from pyspark.sql import functions as F

    t = tables(spark, SF)
    li, o = t["lineitem"], t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")

    def run():
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        return j, j.collect()

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    baseline_df, baseline = run()
    assert "might_contain" not in physical_plan(baseline_df)

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1b"
        )
        filtered_df, filtered = run()
        assert "might_contain" in physical_plan(filtered_df)
        assert sorted(map(tuple, filtered)) == sorted(map(tuple, baseline))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # CMS: vocab groupBy + (j,bucket) cell groupBy + TakeOrdered
        # candidates + final estimate groupBy (probes broadcast)
        ("q_countmin_heavy_hitters_portable", 4),
        ("q_hll_registers_portable", 3),   # vocab distinct + register groupBy
        ("q_feature_hashing", 2),          # (doc,tok) count + (doc,dim) combine
        # sweep-line: per-day delta fold + the bounded single-partition
        # running-sum window (days, not lineitems)
        ("q_interval_sweepline", 3),
        ("q_pq_encode_portable", 2),       # (vec,m) min-agg + vec_id regroup
    ],
)
def test_round6_ops_shuffle_budget(spark, name, max_exchanges):
    """Round-6 operators: same enforced shuffle inventory — the sketch
    builds stay map-side-combined, nothing degenerates into extra
    wide stages."""

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"


def test_pq_adc_broadcasts_lut_and_codebook(spark):
    """The ADC scan must broadcast the LUT (queries x M x K cells) onto
    the code table — shuffling codes to meet a 512-row table would be
    the scale-killer PQ exists to avoid."""
    df = QUERIES["q_pq_adc_topk_portable"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_bloom_probe_broadcasts_bits(spark):
    """The Bloom probe joins the <= 4096-row bit set via broadcast —
    the blocklist filter ships to every probe task, never the reverse."""
    df = QUERIES["q_bloom_filter_audit_portable"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)


def test_oriented_triangles_no_cartesian(spark):
    df = QUERIES["q_triangle_oriented"].spark_fn(spark, SF)
    assert_no_cartesian(df)


def test_pit_join_broadcasts_version_table(spark):
    """The point-in-time join must broadcast the versioned dimension —
    the fact side never shuffles to meet dim-sized version rows."""
    df = QUERIES["q_scd2_point_in_time_join"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("q_dedup_keep_best", 2),          # prefix-key window + regroup
        ("q_source_quota", 2),             # source window + regroup
        ("q_event_paths_topk", 3),         # user window + path count + TakeOrdered
        ("q_token_budget_allocation", 4),  # source agg + two scalar folds
        ("q_rank_normalize_embeddings", 3),  # pos windows + vec regroup
    ],
)
def test_round6_late_ops_shuffle_budget(spark, name, max_exchanges):

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"


def test_lateral_decorrelates_to_window_join(spark):
    """The correlated LATERAL ORDER BY..LIMIT must decorrelate into a
    ranked-window + broadcast hash join — never a per-outer-row
    nested-loop re-execution."""
    plan = physical_plan(QUERIES["q_lateral_topn"].spark_fn(spark, SF))
    assert "Window" in plan and "row_number" in plan
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_null_safe_join_is_hash_join(spark):
    """eqNullSafe compiles to a HASH join on the null-coalesced key
    (coalesce(k), isnull(k)) — the null-safe semantics must not cost a
    nested loop. The only nested-loop nodes allowed are the bounded
    1-row aggregate combiners."""
    plan = physical_plan(QUERIES["q_null_safe_join"].spark_fn(spark, SF))
    assert "isnull" in plan and "coalesce" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # equi + null-safe legs


def test_variant_shred_stays_jvm_side(spark):
    """VARIANT parse/extract are codegen expressions: no Python workers,
    no Arrow eval nodes anywhere in the shred plan."""
    plan = physical_plan(QUERIES["q_variant_shred"].spark_fn(spark, SF))
    assert "Python" not in plan and "ArrowEval" not in plan


def test_skyline_windows_only_aggregated_series(spark):
    """The skyline's global-order window must consume the per-price
    aggregate, never the base part table: exactly one partial_max/merge
    aggregation feeds the window, and the frontier re-join broadcasts."""
    df = QUERIES["q_skyline_pareto"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "Window" in plan
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # r14: each median is now a ranked-HISTOGRAM pass (map-combined
        # (type, value) agg + window by type). The STATIC count is 7:
        # the med subplan's 2 exchanges appear again inside the dev
        # branch's two consumers before AQE stage-reuse dedupes them at
        # runtime, and every one of the new exchanges moves the value
        # histogram (domain-bounded) — never the corpus — in exchange
        # for no reducer ever buffering a group's raw values
        ("q_mad_outliers", 7),

        ("q_mom_growth", 3),          # month agg + series window
        ("q_attribution_last_touch", 3),  # user window + channel agg
        ("q_eval_auc_pr", 5),         # score agg + series windows + 1-row folds
        ("q_bigram_lm_score", 5),     # bigram/unigram counts + doc tf + regroup
        ("q_group_kfold", 2),         # map-side hash + one agg
    ],
)
def test_round6b_ops_shuffle_budget(spark, name, max_exchanges):

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"


def test_join_hint_forces_shuffle_hash(spark):
    """The SHUFFLE_HASH hint must override the optimizer's broadcast
    preference — the strategy escape hatch has to actually steer."""
    plan = physical_plan(QUERIES["q_join_hints"].spark_fn(spark, SF))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_entity_resolution_blocked_join_no_cartesian(spark):
    """The ER candidate generation must stay brand-blocked — an
    unblocked levenshtein pass would be the all-pairs scale-killer."""
    df = QUERIES["q_entity_resolution"].spark_fn(spark, SF)
    assert_no_cartesian(df)


def test_distributed_quantiles_no_single_partition_window(spark):
    """The whole point of operators/ranks.py: exact global quantiles
    with a RANGE exchange and parallel per-partition windows — never an
    Exchange SinglePartition feeding a window. The operator
    localCheckpoints the ranked frame (required: AQE must not re-plan
    the exchange between the offsets job and the caller's job), so the
    assertion targets the pre-checkpoint plan the checkpoint runs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.operators.ranks import PARTITION_COL
    from kafka_stream_service_spark.tables import tables

    orders = tables(spark, SF).__getitem__("orders").select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.col("o_orderkey").alias("tb"),
    )
    ranged = orders.repartitionByRange(8, F.col("v"), F.col("tb")).withColumn(
        PARTITION_COL, F.spark_partition_id()
    )
    w = Window.partitionBy(PARTITION_COL).orderBy("v", "tb")
    plan = physical_plan(ranged.withColumn("r", F.row_number().over(w)))
    assert "rangepartitioning" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan and PARTITION_COL in plan


def test_bm25_broadcasts_stats_and_df(spark):
    """BM25's df/corpus-stats sides are broadcast (never a shuffle join
    against the postings) and nothing degenerates into a cartesian."""
    df = QUERIES["q_bm25_retrieval"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=2)  # df_ + stats
    assert_no_cartesian(df)


def test_merge_on_read_anti_join_shape(spark):
    """Deletion-vector application is a real join (anti), not a filter
    rewrite, and stays cartesian-free."""
    df = QUERIES["q_merge_on_read_deletion_vectors"].spark_fn(spark, SF)
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert_no_cartesian(df)


def test_scan_stats_have_no_single_partition_window(spark):
    """The KS/MWU distributed scan must not fall back to a global-order
    window: every windowspecdefinition in the plan is partitioned by the
    scan pid (the only SinglePartition exchange allowed is the one-row
    scalar-totals reduce, which is a bounded aggregate, not a window)."""
    for name in ("q_ks_two_sample", "q_mannwhitney_u"):
        df = QUERIES[name].spark_fn(spark, SF)
        plan = physical_plan(df)
        # the scan ran behind an eager localCheckpoint (pinned pids);
        # the final job must contain NO runtime window at all — a
        # windowspecdefinition here would mean the operator regressed
        # to a live global-order window. The scan's own windows are
        # per-partition by construction (equality-checked against the
        # single-partition form in test_round7e_ops).
        assert "windowspecdefinition" not in plan, f"{name} regressed:\n{plan}"
        assert "Scan ExistingRDD" in plan or "InMemoryTableScan" in plan, (
            f"{name} lost its checkpoint boundary:\n{plan}"
        )


def test_modularity_broadcasts_the_dim(spark):
    df = QUERIES["q_modularity_by_source"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=2)  # both endpoint label joins
    assert_no_cartesian(df)


# ---------------------------------------------------------------------------
# Round-8 plan shapes
# ---------------------------------------------------------------------------


def test_silhouette_broadcasts_centroids(spark):
    """Centroid table is k*dim rows — it must broadcast into the
    exploded-points join (the q_kmeans_assign envelope), never shuffle
    the corpus against it. The final plan hides that join behind the
    dd localCheckpoint (3 consumers), so the broadcast is asserted on
    the pre-checkpoint distance subplan rebuilt from the same pieces."""
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.queries.corpus_ops import _quantized
    from kafka_stream_service_spark.tables import tables

    e = _quantized(tables(spark, SF)["embeddings"])
    pts = e.select("vec_id", "label", F.posexplode(F.col("qv")).alias("pos", "val"))
    cent = pts.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.sum("val").alias("s")
    )
    dist = pts.join(F.broadcast(cent), "pos")
    assert_broadcast_join(dist, at_least=1)
    # and the full query never degenerates into a cartesian
    assert_no_cartesian(QUERIES["q_silhouette_simplified"].spark_fn(spark, SF))


def test_rerank_shortlist_is_broadcast_probe(spark):
    """Stage-1 shortlisting joins the broadcast query set against the
    corpus buckets; the corpus itself must not shuffle or cross-join."""
    df = QUERIES["q_ann_rerank_two_stage"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_apriori_candidates_broadcast_into_support_count(spark):
    """Candidate triples live on the item grain and must broadcast into
    the orderkey-partitioned three-way support count."""
    df = QUERIES["q_basket_triples_apriori"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_incremental_dedup_is_bucket_equi_join(spark):
    """Incoming x corpus must happen ONLY through the (band, bucket)
    equi-join — a cartesian here is the all-pairs scale-killer the LSH
    index exists to avoid."""
    df = QUERIES["q_dedup_incremental_snapshot"].spark_fn(spark, SF)
    assert_no_cartesian(df)


def test_cusum_pushes_year_filter_to_scan(spark):
    df = QUERIES["q_cusum_changepoint"].spark_fn(spark, SF)
    assert_pushed_filters(df, "l_shipdate")


def test_logreg_scoring_is_shuffle_free(spark):
    """Batch inference is a pure map — any exchange in this plan is a
    regression."""

    plan = physical_plan(QUERIES["q_logreg_score_text"].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n == 0, f"logreg scoring plans {n} exchanges:\n{plan}"


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("q_kaplan_meier", 5),
        ("q_cusum_changepoint", 5),
        ("q_isotonic_calibration", 6),
        ("q_cuped_adjustment", 5),
        ("q_kendall_tau", 6),
        ("q_anova_oneway", 4),
        ("q_seasonal_decompose", 6),
        ("q_compaction_bin_packing", 4),
    ],
)
def test_round8_ops_shuffle_budget(spark, name, max_exchanges):

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"


def test_fertility_broadcasts_vocab_token_counts(spark):
    """Vocabulary-grain token counts must broadcast into the (lang,
    word) frequency join — the corpus is never re-tokenized per row."""
    df = QUERIES["q_tokenizer_fertility"].spark_fn(spark, SF)
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_bleu_scoring_joins_pairs_only(spark):
    """The clipped-count joins key on (pair, token) — no cartesian and
    no corpus^2 leg anywhere in the scoring plan."""
    assert_no_cartesian(QUERIES["q_bleu_ngram_precision"].spark_fn(spark, SF))


def test_preference_pairs_windows_partition_by_source(spark):
    """Both rank windows must partition by source — a global window
    here would be the single-partition scale-killer."""
    plan = physical_plan(QUERIES["q_preference_pairs"].spark_fn(spark, SF))
    assert "SinglePartition" not in plan


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        ("q_bpe_apply_merges", 3),
        ("q_temperature_mixing", 3),
        ("q_psi_drift", 4),
        ("q_woe_binning", 4),
        ("q_ece_calibration", 4),
        ("q_decision_tree_score", 3),
    ],
)
def test_round8_late_ops_shuffle_budget(spark, name, max_exchanges):

    plan = physical_plan(QUERIES[name].spark_fn(spark, SF))
    n = count_shuffle_exchanges(plan)
    assert n <= max_exchanges, f"{name}: {n} exchanges (budget {max_exchanges}):\n{plan}"
