"""Physical-plan assertions: scale-readiness is checked, not hoped for.

Every flagship plan must (a) broadcast its dimension joins, (b) push
filters into the parquet scan, (c) never degenerate into a cartesian
product, (d) keep whole-stage codegen on the relational spine, and (e)
hold its shuffle budget (``catalog_plans.SHUFFLE_BUDGETS``).

Every check on a registered row reads the plan the session's catalog
sweep built (``catalog_sweep[name].plan``); none plans the row again.
The catalog-wide gates below check every row for cartesian products
and build failures; a per-row test states the shape it is about.
"""

from __future__ import annotations

import re

import catalog_plans
import pytest
from catalog_plans import broadcast_joins, budgets, over_budget, over_view

from kafka_stream_service_spark.plans import physical_plan

SF = "/root/testdata/sf0.001"


def _pushed(plan: str, fragment: str) -> bool:
    """A predicate fragment appears in a scan's PushedFilters."""
    return any(fragment in ln for ln in plan.splitlines() if "PushedFilters" in ln)


def test_flagship_broadcasts_dims(catalog_sweep):
    plan = catalog_sweep["q02_revenue_by_nation"].plan
    assert broadcast_joins(plan) >= 2, plan  # customer + nation
    # every node on the spine is codegen-capable (no interpreted/Python ops)
    assert "Python" not in plan and "ArrowEval" not in plan


def test_q05_six_way_join_shape(catalog_sweep):
    plan = catalog_sweep["q05_regional_supplier_volume"].plan
    assert broadcast_joins(plan) >= 3, plan  # customer, supplier, nation⋈region


def test_q06_filter_pushdown(catalog_sweep):
    plan = catalog_sweep["q06_forecast_revenue_filter"].plan
    # shipdate range + quantity bound reach the parquet scan
    assert _pushed(plan, "l_shipdate") and _pushed(plan, "l_quantity"), plan


def test_q01_partial_aggregation(catalog_sweep):
    """The group-by plans partial (map-side) aggregation before the
    exchange — only 6 groups cross the shuffle."""
    plan = catalog_sweep["q01_pricing_summary"].plan
    assert "partial_sum" in plan
    # map-side HashAggregate node precedes the Exchange node in the tree
    # (Spark numbers children first: HashAggregate(4) feeds Exchange(5))
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    exch_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange", plan)]
    assert agg_ids and exch_ids and min(agg_ids) < min(exch_ids)


def test_topk_plans_as_take_ordered(catalog_sweep):
    """orderBy().limit(k) must plan as TakeOrderedAndProject — no global
    sort materialization."""
    assert "TakeOrderedAndProject" in catalog_sweep["q_sort_limit_topk"].plan


def test_semi_join_stays_semi(catalog_sweep):
    assert "LeftSemi" in catalog_sweep["q_join_semi"].plan


def test_column_pruning_reaches_scan(catalog_sweep):
    """A 2-column projection must not read the full lineitem schema."""
    plan = catalog_sweep["q06_forecast_revenue_filter"].plan
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


def test_barrier_records_on_the_recording_thread_only(spark):
    """A recording keeps the plan of each barrier its own thread cuts; a
    barrier on another thread (as in a foreachBatch callback) is not
    recorded."""
    import threading

    from kafka_stream_service_spark.plans.barrier import barrier, recording

    frame = spark.range(4)
    with recording() as cut:
        barrier(frame, "reuse")
        other = threading.Thread(target=barrier, args=(frame.filter("id > 1"), "reuse"))
        other.start()
        other.join(timeout=60)
        assert not other.is_alive()
    assert len(cut) == 1 and "Range" in cut[0] and "Filter" not in cut[0], cut


def test_rdd_scans_come_from_recorded_barriers(catalog_sweep):
    """A ``Scan ExistingRDD`` in a row's plan reads a frame some barrier
    cut; the gates see below it only through the recorded barrier plan.
    A row whose plan scans an RDD but recorded no barrier plan hides a
    subtree from every gate."""
    hidden = [n for n, b in catalog_sweep.items()
              if "Scan ExistingRDD" in b.plan and not b.barriers]
    assert not hidden, f"RDD scans with no recorded barrier plan: {hidden}"


def test_shuffle_budgets_hold(catalog_sweep):
    """SCALE.md's shuffle inventory is enforced over the one budget
    table: no row may regress into extra keyed exchanges. Every offender
    is reported at once, and a budget on a row that is not registered or
    did not build fails too, so no budget holds vacuously."""
    bad = over_budget(catalog_sweep, catalog_plans.SHUFFLE_BUDGETS)
    assert not bad, f"shuffle budgets broken: {bad}"


# The per-row budget ids below are views of SHUFFLE_BUDGETS, named by
# each row's reason cap (``catalog_plans.REASON_CAPS``): each holds its
# row's sweep plan to the table's budget and that budget under the cap.


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_asof_join", "q_training_corpus_pipeline", "q_dedup_embedding_cosine"),
)
def test_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


@pytest.mark.parametrize(
    "name",
    ["q02_revenue_by_nation", "q10_returned_items",
     "q_pack_sequences", "q_corpus_mixture", "q_stratified_sample"],
)
def test_no_python_in_relational_spine(catalog_sweep, name):
    """Relational queries and the training ops stay entirely JVM-side
    (no Python/Arrow eval nodes in the plan)."""
    plan = catalog_sweep[name].plan
    assert "Python" not in plan and "ArrowEval" not in plan


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_pack_sequences", "q_corpus_mixture", "q_stratified_sample"),
)
def test_training_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_hash_sample_is_map_side_only(catalog_sweep):
    """The deterministic sampler is a pure scan+filter: zero exchanges
    (its budget is 0), and no Python."""
    assert not over_budget(catalog_sweep, dict(budgets("q_hash_sample")))
    assert "Python" not in catalog_sweep["q_hash_sample"].plan


def test_mixture_broadcasts_rate_table(catalog_sweep):
    """The per-source rate table (20 rows) must broadcast into the filter
    join — a shuffle join here would move the whole corpus to join 20
    rows."""
    assert broadcast_joins(catalog_sweep["q_corpus_mixture"].plan) >= 1


def test_salted_join_is_shuffle_join_with_spread_keys(catalog_sweep):
    """q_salted_skew_join must actually exercise the salted SHUFFLE path:
    a sort-merge join on the composite (key, salt), no broadcast —
    broadcasting would silently bypass the skew mitigation the query
    exists to prove correct (which is what happened before force_shuffle:
    at test SF the planner broadcast the exploded side)."""
    plan = catalog_sweep["q_salted_skew_join"].plan
    assert "SortMergeJoin" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, "salted join degenerated to broadcast"
    assert "_salt" in plan  # composite key reached the join


def test_decontamination_broadcasts_benchmark_side(catalog_sweep):
    """The eval-set n-gram side is tiny by construction and must
    broadcast; a shuffle join here would move the full corpus n-gram
    explosion — the exact failure mode at 100 TB."""
    assert broadcast_joins(catalog_sweep["q_decontaminate_ngram"].plan) >= 1


def test_partitioned_write_prunes_directories(catalog_sweep):
    """q_partitioned_pruning's re-read must carry the lang filter as a
    PARTITION filter (directory pruning — zero IO for other langs), not
    just a data filter after a full scan."""
    plan = catalog_sweep["q_partitioned_pruning"].plan
    m = re.search(r"PartitionFilters: \[[^\]]*lang[^\]]*\]", plan)
    assert m, f"lang never became a partition filter:\n{plan[:3000]}"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_chunk_documents", "q_zorder_cells", "q_kmeans_assign_int8",
            "q_upsert_merge", "q_rolling_anomaly", "q_ewma_smoothing"),
)
def test_round5_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_kmeans_assign_broadcasts_centroids(catalog_sweep):
    """The Lloyd assignment step must broadcast the k x dim centroid
    table (BroadcastNestedLoopJoin from the bounded crossJoin) — a
    shuffle here would move the corpus to meet 8 rows."""
    plan = catalog_sweep["q_kmeans_assign_int8"].plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_hard_negatives_broadcasts_queries(catalog_sweep):
    assert broadcast_joins(catalog_sweep["q_hard_negatives"].plan) >= 1


def test_boilerplate_broadcasts_df_flags(catalog_sweep):
    """The bigram DF/flag table is vocabulary-sized and must broadcast
    back onto the corpus instance stream."""
    assert broadcast_joins(catalog_sweep["q_boilerplate_bigrams"].plan) >= 1


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
    ("name", "max_exchanges"),
    budgets("q_countmin_heavy_hitters_portable", "q_hll_registers_portable",
            "q_feature_hashing", "q_interval_sweepline", "q_pq_encode_portable"),
)
def test_round6_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_pq_adc_broadcasts_lut_and_codebook(catalog_sweep):
    """The ADC scan must broadcast the LUT (queries x M x K cells) onto
    the code table — shuffling codes to meet a 512-row table would be
    the scale-killer PQ exists to avoid."""
    assert broadcast_joins(catalog_sweep["q_pq_adc_topk_portable"].plan) >= 1


def test_bloom_probe_broadcasts_bits(catalog_sweep):
    """The Bloom probe joins the <= 4096-row bit set via broadcast —
    the blocklist filter ships to every probe task, never the reverse."""
    assert broadcast_joins(catalog_sweep["q_bloom_filter_audit_portable"].plan) >= 1


def test_oriented_triangles_no_cartesian(catalog_sweep):
    """Oriented wedges close by an equi-join on both endpoints (x, y),
    never by a cross product filtered afterwards."""
    plan = catalog_sweep["q_triangle_oriented"].plan
    assert re.search(r"Left keys \[2\]: \[x#\d+L?, y#", plan), plan[:3000]


def test_pit_join_broadcasts_version_table(catalog_sweep):
    """The point-in-time join must broadcast the versioned dimension —
    the fact side never shuffles to meet dim-sized version rows."""
    assert broadcast_joins(catalog_sweep["q_scd2_point_in_time_join"].plan) >= 1


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_dedup_keep_best", "q_source_quota", "q_event_paths_topk",
            "q_token_budget_allocation", "q_rank_normalize_embeddings"),
)
def test_round6_late_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_lateral_decorrelates_to_window_join(catalog_sweep):
    """The correlated LATERAL ORDER BY..LIMIT must decorrelate into a
    ranked-window + broadcast hash join — never a per-outer-row
    nested-loop re-execution."""
    plan = catalog_sweep["q_lateral_topn"].plan
    assert "Window" in plan and "row_number" in plan
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_null_safe_join_is_hash_join(catalog_sweep):
    """eqNullSafe compiles to a HASH join on the null-coalesced key
    (coalesce(k), isnull(k)) — the null-safe semantics must not cost a
    nested loop. The only nested-loop nodes allowed are the bounded
    1-row aggregate combiners."""
    plan = catalog_sweep["q_null_safe_join"].plan
    assert "isnull" in plan and "coalesce" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # equi + null-safe legs


def test_variant_shred_stays_jvm_side(catalog_sweep):
    """VARIANT parse/extract are codegen expressions: no Python workers,
    no Arrow eval nodes anywhere in the shred plan."""
    plan = catalog_sweep["q_variant_shred"].plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_skyline_windows_only_aggregated_series(catalog_sweep):
    """The skyline's global-order window must consume the per-price
    aggregate, never the base part table: exactly one partial_max/merge
    aggregation feeds the window, and the frontier re-join broadcasts."""
    plan = catalog_sweep["q_skyline_pareto"].plan
    assert "Window" in plan
    assert broadcast_joins(plan) >= 1


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_mad_outliers", "q_mom_growth", "q_attribution_last_touch",
            "q_eval_auc_pr", "q_bigram_lm_score", "q_group_kfold"),
)
def test_round6b_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_join_hint_forces_shuffle_hash(catalog_sweep):
    """The SHUFFLE_HASH hint must override the optimizer's broadcast
    preference — the strategy escape hatch has to actually steer."""
    plan = catalog_sweep["q_join_hints"].plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_entity_resolution_blocked_join_no_cartesian(catalog_sweep):
    """The ER candidate generation must stay brand-blocked — an
    unblocked levenshtein pass would be the all-pairs scale-killer. The
    blocking join runs under connected_components' edge barrier, so its
    keys are read from that barrier's plan."""
    built = catalog_sweep["q_entity_resolution"]
    assert not any("CartesianProduct" in p for p in built.plans)
    blocked = re.compile(r"Left keys \[1\]: \[p_brand#\d+\]\nRight keys \[1\]: \[brand_b#\d+\]")
    assert any(blocked.search(p) for p in built.barriers), built.barriers


def test_distributed_quantiles_no_single_partition_window(catalog_sweep):
    """The whole point of operators/ranks.py: exact global quantiles
    with a RANGE exchange and parallel per-partition windows — never a
    SinglePartition exchange feeding a window (a 1-row fold may still
    cross one: the walker tells the two apart). The operator cuts the
    ranked frame at a barrier (AQE must not re-plan the exchange
    between the offsets job and the caller's job), so the assertion
    reads every rank barrier plan the sweep recorded."""
    from kafka_stream_service_spark.operators.ranks import PARTITION_COL
    from kafka_stream_service_spark.plans import single_partition_offenders

    ranked = [p for b in catalog_sweep.values() for p in b.barriers if PARTITION_COL in p]
    assert ranked
    for plan in ranked:
        assert "rangepartitioning" in plan and "Window" in plan, plan[:2000]
        assert not single_partition_offenders(plan), plan[:2000]


def test_bm25_broadcasts_stats_and_df(catalog_sweep):
    """BM25's df/corpus-stats sides are broadcast (never a shuffle join
    against the postings)."""
    assert broadcast_joins(catalog_sweep["q_bm25_retrieval"].plan) >= 2  # df_ + stats


def test_merge_on_read_anti_join_shape(catalog_sweep):
    """Deletion-vector application is a real join (anti), not a filter
    rewrite."""
    assert "LeftAnti" in catalog_sweep["q_merge_on_read_deletion_vectors"].plan


def test_scan_stats_have_no_single_partition_window(catalog_sweep):
    """The KS/MWU distributed scan must not fall back to a global-order
    window: every windowspecdefinition in the plan is partitioned by the
    scan pid (the only SinglePartition exchange allowed is the one-row
    scalar-totals reduce, which is a bounded aggregate, not a window)."""
    for name in ("q_ks_two_sample", "q_mannwhitney_u"):
        plan = catalog_sweep[name].plan
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


def test_modularity_broadcasts_the_dim(catalog_sweep):
    plan = catalog_sweep["q_modularity_by_source"].plan
    assert broadcast_joins(plan) >= 2  # both endpoint label joins


# ---------------------------------------------------------------------------
# Round-8 plan shapes
# ---------------------------------------------------------------------------


def test_silhouette_broadcasts_centroids(catalog_sweep):
    """Centroid table is k*dim rows — it must broadcast into the
    exploded-points join (the q_kmeans_assign envelope), never shuffle
    the corpus against it. The join runs under the distance frame's
    barrier (3 consumers), so it is read from that barrier's plan."""
    joined = re.compile(r"\(\d+\) BroadcastHashJoin\nLeft keys \[1\]: \[pos#\d+\]")
    cut = catalog_sweep["q_silhouette_simplified"].barriers
    assert any(joined.search(p) for p in cut), cut


def test_rerank_shortlist_is_broadcast_probe(catalog_sweep):
    """Stage-1 shortlisting joins the broadcast query set against the
    corpus buckets; the corpus itself must not shuffle or cross-join."""
    assert broadcast_joins(catalog_sweep["q_ann_rerank_two_stage"].plan) >= 1


def test_apriori_candidates_broadcast_into_support_count(catalog_sweep):
    """Candidate triples live on the item grain and must broadcast into
    the orderkey-partitioned three-way support count."""
    assert broadcast_joins(catalog_sweep["q_basket_triples_apriori"].plan) >= 1


def test_incremental_dedup_is_bucket_equi_join(catalog_sweep):
    """Incoming x corpus must happen ONLY through the (band, bucket)
    equi-join — a cartesian here is the all-pairs scale-killer the LSH
    index exists to avoid. The join runs under the verified-pairs
    barrier, so its keys are read from that barrier's plan."""
    built = catalog_sweep["q_dedup_incremental_snapshot"]
    assert not any("CartesianProduct" in p for p in built.plans)
    bucketed = re.compile(r"Left keys \[2\]: \[band#\d+, bucket#\d+\]")
    assert any(bucketed.search(p) for p in built.barriers), built.barriers


def test_cusum_pushes_year_filter_to_scan(catalog_sweep):
    assert _pushed(catalog_sweep["q_cusum_changepoint"].plan, "l_shipdate")


def test_logreg_scoring_is_shuffle_free(catalog_sweep):
    """Batch inference is a pure map — any exchange in this plan is a
    regression (its budget is 0)."""
    assert not over_budget(catalog_sweep, dict(budgets("q_logreg_score_text")))


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_kaplan_meier", "q_cusum_changepoint", "q_isotonic_calibration",
            "q_cuped_adjustment", "q_kendall_tau", "q_anova_oneway",
            "q_seasonal_decompose", "q_compaction_bin_packing"),
)
def test_round8_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_fertility_broadcasts_vocab_token_counts(catalog_sweep):
    """Vocabulary-grain token counts must broadcast into the (lang,
    word) frequency join — the corpus is never re-tokenized per row."""
    assert broadcast_joins(catalog_sweep["q_tokenizer_fertility"].plan) >= 1


def test_bleu_scoring_joins_pairs_only(catalog_sweep):
    """The clipped-count joins key on (pair, token) — no corpus^2 leg
    anywhere in the scoring plan."""
    plan = catalog_sweep["q_bleu_ngram_precision"].plan
    assert re.search(r"Left keys \[2\]: \[id_a#\d+L?, tok#", plan), plan[:3000]


def test_preference_pairs_windows_partition_by_source(catalog_sweep):
    """Both rank windows must partition by source — a global window
    here would be the single-partition scale-killer."""
    assert "SinglePartition" not in catalog_sweep["q_preference_pairs"].plan


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_bpe_apply_merges", "q_temperature_mixing", "q_psi_drift",
            "q_woe_binning", "q_ece_calibration", "q_decision_tree_score"),
)
def test_round8_late_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)
