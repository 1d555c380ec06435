"""One build of every catalog row, shared by the catalog-wide plan gates.

Building all 454 rows at sf0.001 takes 135-165 s on a 4-core host (a
replay row runs its streaming query while it builds), so the session
builds each row once (``conftest.catalog_sweep``) and every gate reads
the record: the physical plan and output schema, or the build error.
A row that fails to build escapes every plan gate at once, so each gate
asserts that none did. Per-row plan checks read the same record
(``catalog_sweep[name].plan``): no test plans a registered row again
just to read its plan.

A materialization barrier (``plans/barrier.py``) cuts the row's plan:
below the cut, the row's plan shows only ``Scan ExistingRDD``. So the
build records each barrier's own plan (``Built.barriers``), and every
gate reads the row's plan and each barrier plan as separate plans
(``Built.plans``). A barrier plan that repeats after normalization, as
a loop's rounds do, is kept once, so no gate depends on a loop count.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql.types import ArrayType, MapType, StructType

from kafka_stream_service_spark.plans import (
    count_shuffle_exchanges,
    normalize_plan,
    physical_plan,
    python_lane_offenders,
    single_partition_offenders,
)
from kafka_stream_service_spark.plans.barrier import recording
from kafka_stream_service_spark.queries import dedup2


@dataclass(frozen=True)
class Built:
    plan: str = ""
    schema: StructType | None = None
    error: str = ""
    barriers: tuple[str, ...] = ()

    @property
    def plans(self) -> tuple[str, ...]:
        """The row's plan, then each distinct barrier plan."""
        return (self.plan, *self.barriers) if self.plan else ()


def _distinct(plans: list[str]) -> tuple[str, ...]:
    kept: dict[str, str] = {}
    for plan in plans:
        kept.setdefault(normalize_plan(plan), plan)
    return tuple(kept.values())


def build_rows(spark, queries, sf) -> dict[str, Built]:
    """Build each query's frame at ``sf`` and keep its plan, its
    schema and the plans its barriers cut.

    The stored pair and bucket indexes are built first, outside any
    recording: otherwise whichever consumer builds first would carry
    the build's barrier plans (at sf0.1 in alphabetical order,
    q_degree_assortativity counted 6 keyed shuffles against its 2).
    ``q_pair_index_snapshot`` always rebuilds, so it keeps its own."""
    dedup2.PAIR_INDEX.read(spark, sf)
    dedup2.BUCKET_INDEX.read(spark, sf)
    sweep = {}
    for name, spec in queries.items():
        try:
            with recording() as cut:
                df = spec.spark_fn(spark, sf)
            sweep[name] = Built(plan=physical_plan(df), schema=df.schema,
                                barriers=_distinct(cut))
        except Exception as exc:  # noqa: BLE001 - recorded, asserted by the gates
            sweep[name] = Built(error=f"{type(exc).__name__}: {exc}"[:200])
    return sweep


def broken(sweep, allowlist=frozenset()) -> dict[str, str]:
    return {n: b.error for n, b in sweep.items() if b.error and n not in allowlist}


def cartesian(sweep) -> list[str]:
    return [n for n, b in sweep.items() if any("CartesianProduct" in p for p in b.plans)]


def complex_outputs(sweep) -> dict[str, list[str]]:
    """Rows with array, map or struct output columns. A harness that
    canonicalizes a result by sorting on all its columns raises
    ``TypeError: unhashable type`` on a list-valued cell."""
    bad = {}
    for name, b in sweep.items():
        cols = [f.name for f in (b.schema.fields if b.schema else ())
                if isinstance(f.dataType, (ArrayType, MapType, StructType))]
        if cols:
            bad[name] = cols
    return bad


def single_partition(sweep, allowlist=frozenset()) -> dict[str, list[str]]:
    """Data-scale subtrees collapsed onto one partition."""
    bad = {}
    for name, b in sweep.items():
        off = name not in allowlist and [o for p in b.plans for o in single_partition_offenders(p)]
        if off:
            bad[name] = off
    return bad


def row_python(sweep) -> list[str]:
    """Rows that plan row-at-a-time Python (BatchEvalPython)."""
    return [n for n, b in sweep.items()
            if any("BatchEvalPython" in p and "ArrowEvalPython" not in p for p in b.plans)]


def narrow_python(sweep, allowlist=frozenset()) -> dict[str, list[str]]:
    """Python lanes that run at raw file-scan width: on a one-file
    fixture that is one task under every Arrow crossing."""
    bad = {}
    for name, b in sweep.items():
        off = name not in allowlist and [o for p in b.plans for o in python_lane_offenders(p)]
        if off:
            bad[name] = off
    return bad


def shuffles(built: Built) -> int:
    """Keyed shuffles over the row's plan and its barrier plans."""
    return sum(count_shuffle_exchanges(p) for p in built.plans)


def broadcast_joins(plan: str) -> int:
    """Broadcast join nodes in a formatted plan, counted by their detail
    headers: a count of the name would see each node twice (tree line
    and header), so ``>= 2`` would pass on one join."""
    return len(re.findall(r"^\(\d+\) Broadcast(?:HashJoin|NestedLoopJoin)\b", plan, re.M))


# SCALE.md's shuffle inventory: the most keyed (hash or range) exchanges
# each row's plans may hold at sf0.001, counted over the row's plan and
# its barrier plans. Each budget is its row's count, the larger of its
# sf0.001 and sf0.1 counts, so one added shuffle fails the gate. A
# static plan repeats a shared rollup once per consumer (AQE reuses the
# exchange at run time), so some budgets count one rollup twice. A
# reason may name more shuffles than the fixture plans hold; its
# "fixture plan:" note says why: sides it broadcasts and
# SinglePartition exchanges (1-row folds, windows over all rows),
# neither of which a budget counts. Stored-index rows whose budget needs
# the artifact built first keep their own test (q_text_index_delta,
# q_bm25_after_refresh, q_knn_ivf_refresh).
SHUFFLE_BUDGETS: dict[str, int] = {
    # relational and training-data pipelines
    "q_asof_join": 1,  # union-tag composition: ONE shuffle on the key
    "q_training_corpus_pipeline": 2,  # dedup window + final groupBy
    "q_dedup_embedding_cosine": 2,  # block key + dup-id groupBy
    "q_pack_sequences": 1,  # ONE shuffle: the per-source window
    "q_corpus_mixture": 3,  # source counts + global sum + final groupBy
    "q_stratified_sample": 1,  # ONE shuffle: the per-lang rank
    "q_hash_sample": 0,  # deterministic sampler: scan + md5-prefix filter
    "q_logreg_score_text": 0,  # batch inference is a pure map
    "q_chunk_documents": 0,  # pure map-side: tokenize/enumerate/slice
    "q_zorder_cells": 1,  # ONE shuffle: the z-cell groupBy
    "q_kmeans_assign_int8": 1,  # centroids broadcast; one vec_id groupBy
    "q_upsert_merge": 2,  # the merge full-outer join (+AQE reads)
    "q_rolling_anomaly": 1,  # ONE shuffle: the per-user window
    "q_ewma_smoothing": 1,  # ONE shuffle: the per-user window
    # sketches, hashing and corpus operators
    "q_countmin_heavy_hitters_portable": 3,  # vocab count + (j,bucket) cells + TakeOrdered candidates + estimate; probes broadcast; fixture plan: 1 broadcast
    "q_hll_registers_portable": 2,  # vocab distinct + register groupBy
    "q_feature_hashing": 2,  # (doc,tok) count + (doc,dim) combine
    "q_interval_sweepline": 1,  # per-day delta fold + the bounded day-grain running-sum window; fixture plan: 2 broadcast, 1 single-partition
    "q_pq_encode_portable": 2,  # (vec,m) min-agg + vec_id regroup
    "q_dedup_keep_best": 1,  # prefix-key window + regroup; the regroup reuses the window's partitioning
    "q_source_quota": 1,  # source window + regroup; the regroup reuses the window's partitioning
    "q_event_paths_topk": 2,  # user window + path count + TakeOrdered; TakeOrdered is not a keyed shuffle
    "q_token_budget_allocation": 4,  # source agg + two scalar folds
    "q_rank_normalize_embeddings": 2,  # pos windows + vec regroup
    # r14: each median is a ranked-HISTOGRAM pass (map-combined (type,
    # value) agg + window by type); the med subplan's 2 exchanges repeat
    # inside the dev branch's two consumers until AQE reuses them, and
    # every exchange moves the domain-bounded histogram, never the corpus
    "q_mad_outliers": 7,
    "q_mom_growth": 1,  # month agg + series window; the series window is single-partition
    "q_attribution_last_touch": 2,  # user window + channel agg
    "q_eval_auc_pr": 3,  # score agg + series windows + 1-row folds; fixture plan: 2 broadcast, 3 single-partition
    "q_bigram_lm_score": 4,  # bigram/unigram counts + doc tf + regroup; fixture plan: 2 broadcast
    "q_group_kfold": 2,  # map-side hash + one agg
    # statistical tests and estimators on rollups
    "q_kaplan_meier": 1,  # t_days rollup + risk-set folds on the duration grain; fixture plan: 3 broadcast, 2 single-partition
    "q_cusum_changepoint": 4,  # month rollup, repeated per consumer (runtime-reused); fixture plan: 3 broadcast, 4 single-partition
    "q_isotonic_calibration": 3,  # bin rollups for the pooled-violator passes; fixture plan: 2 broadcast, 2 single-partition
    "q_cuped_adjustment": 3,  # user pre/post rollups + arm grain; fixture plan: 1 broadcast, 1 single-partition
    "q_kendall_tau": 1,  # day rollup + bounded pair frame; fixture plan: 2 broadcast, 2 single-partition
    "q_anova_oneway": 1,  # event_type rollup + scalar grand-mean folds; fixture plan: 1 single-partition
    "q_seasonal_decompose": 2,  # day rollup + bounded trend/season windows + weekday rollup; fixture plan: 1 broadcast
    "q_compaction_bin_packing": 1,  # partition rollup + bounded packing window; the packing window is single-partition
    "q_bpe_apply_merges": 1,  # word rollup; merges run on the vocabulary
    "q_temperature_mixing": 2,  # source counts, repeated per consumer; fixture plan: 1 broadcast, 1 single-partition
    "q_psi_drift": 2,  # bin rollups of the two samples; fixture plan: 1 broadcast, 1 single-partition
    "q_woe_binning": 2,  # bin rollups of the two classes; fixture plan: 1 broadcast, 1 single-partition
    "q_ece_calibration": 2,  # confidence-bin rollups, repeated per consumer; fixture plan: 1 broadcast, 1 single-partition
    "q_decision_tree_score": 1,  # map-side scoring + leaf rollup
    "q_gopher_quality_rules": 3,  # (doc, stat) rollup + doc grain + source census
    "q_dsir_importance_weights": 6,  # bucket model rollups + doc grain
    "q_welch_ttest": 0,  # one scan, map-side moment combine; fixture plan: 1 single-partition
    "q_hits_two_iterations": 18,  # (c, s) edge distinct + two hub/authority rounds on the edge grain
    "q_permutation_test_hashed": 2,  # perm rollup + observed-statistic fold; fixture plan: 1 broadcast, 1 single-partition
    "q_quantile_normalization": 3,  # per-source ranks + reference by rank; fixture plan: 1 broadcast
    "q_ols_normal_equations": 0,  # one scan, one global moment rollup; fixture plan: 1 single-partition
    "q_runs_test_daily": 1,  # day rollup + bounded run windows; the run windows are single-partition
    "q_curation_mixture": 17,  # quality census (doc, stat) + source grain, per consumer; the ranked perplexity frame: doc regroups, bigram and unigram rollups, range + pid exchanges; fixture plan: 13 broadcast, 3 single-partition
    "q_exact_substr_spans": 2,  # shingle census + semi-join + per-doc islands; fixture plan: 1 broadcast
    "q_exact_substr_stats": 3,  # manifest rollup adds one doc-grain join + source rollup; fixture plan: 2 broadcast
    "q_weighted_sample_es": 1,  # scan-bound key computation + per-source rank
    "q_mann_kendall_trend": 2,  # day-grain rollup + bounded pair frame + scalar aggregates; fixture plan: 3 broadcast, 3 single-partition
    "q_logrank_test": 1,  # duration-grain rollup + prefix window + scalar aggregate; fixture plan: 3 broadcast, 2 single-partition
    "q_nelson_aalen": 1,  # duration-grain rollup + prefix window; fixture plan: 3 broadcast, 2 single-partition
    "q_cliffs_delta": 3,  # histogram + distributed prefix scan (range + pid exchanges) + bounded aggregate; fixture plan: 1 broadcast, 1 single-partition
    "q_heaps_law_fit": 8,  # token pass + two bounded rollups + 10-point fit
    "q_matryoshka_energy": 1,  # one scan + 4-way prefix fan-out + label rollup
    "q_brier_decomposition": 1,  # scoring pass + 10-bin groupBy + broadcast totals
    # scan + vec_id self-join + dims^2-grain rollups + the covariance
    # frame's (dim, dim) and two marginal rollups + tiny joins: no
    # data-scale exchange after the covariance rollup
    "q_power_iteration_top_eigvec": 11,
    "q_semdedup_delta_edges": 3,  # delta quantize + stored-centroid assign + per-cluster blocks + CC; fixture plan: 2 broadcast
    "q_knn_ivf_stored": 2,  # probe rank window + member fetch + topk window; fixture plan: 3 broadcast
    "q_rrf_fusion": 1,  # one scored frame, three windows on it, no re-scan; fixture plan: 1 broadcast
    "q_mrr_recall_eval": 1,  # one scored frame, one window, one query-grain rollup; fixture plan: 1 broadcast
    # endpoint bigram census + overlap join + totals; the count is
    # sf0.1's: there the overlap rollup outgrows the broadcast threshold,
    # so its left join with the pair read is a sort-merge join that
    # shuffles the pair read on (id_a, id_b)
    "q_rouge2_pair_scores": 12,
    "q_kneser_ney_bigram": 6,  # bigram/unigram/type rollups + broadcast joins
    "q_jensen_shannon_sources": 7,  # (source, word) rollup + margins + grid
    "q_kruskal_wallis": 7,  # value census + group-value rollup + group grain
    "q_mmr_rerank": 1,  # pool window + grouped-map greedy; fixture plan: 1 broadcast
    "q_good_turing_smoothing": 6,  # bigram rollup + count-of-counts + bounded lead window; fixture plan: 2 broadcast, 3 single-partition
    "q_pmi_collocations": 6,  # bigram rollup + the two unigram margins
    "q_mcnemar_filters": 0,  # one scan, one 4-cell rollup; fixture plan: 1 single-partition
    "q_wilcoxon_signed_rank": 8,  # day rollup + self-join + census windows
    "q_friedman_test": 6,  # (day, type) rollup + block windows + treatment grain
    "q_jonckheere_terpstra": 3,  # (value x group) census + grid self-join + margins (runtime-reused)
    "q_page_trend_test": 6,  # (day, day-part) rollup + completeness/rank windows on blk
    "q_fleiss_kappa": 0,  # one scan, one global rollup: zero keyed shuffles
    "q_cramers_v": 7,  # lang x source cells + two margins (cell subtree runtime-reused)
    "q_cramer_von_mises": 3,  # 50-cell value census + bounded cumulative window + scalar folds
    "q_harrell_c_index": 8,  # census + per-risk suffix windows + day-grain join (runtime-reused)
    "q_yule_k_lexical": 1,  # explode + ONE word rollup + 1-row fold
    "q_ams_f2_portable": 4,  # user rollup (runtime-reused for F2 + sketch) + r/group grains
    "q_ra_link_prediction": 2,  # snapshot-scale adjacency rollup + wedge join
    "q_l_diversity": 2,  # class rollup + distinct expansion
    "q_t_closeness": 5,  # class/band rollups + bounded grid windows
    "q_theils_u": 9,  # joint-cell rollup repeated across H/MI margins (runtime-reused)
    "q_burrows_delta": 11,  # (source, word) rollup repeated per consumer (runtime-cached)
    "q_krippendorff_alpha": 0,  # one scan, one global rollup
    "q_mcc_filters": 0,  # one scan, one 4-cell rollup
    "q_odds_ratio_ci": 0,  # one scan, one 4-cell rollup
    "q_pacf_daily": 6,  # day rollup repeated per lag/moment margin (runtime-reused)
    "q_brown_forsythe": 5,  # (group x value) census + bounded per-group windows
    "q_granger_lag1": 6,  # day rollup + lag join + moment folds on the 30-row series
    "q_ljung_box": 10,  # day rollup repeated per lag/g0/moment margin (runtime-reused)
    "q_page_hinkley": 1,  # ONE day rollup; all windows on the 31-row series
    "q_dunns_test": 10,  # value census repeated per rank/tie/group margin (runtime-reused)
    "q_conformal_coverage": 4,  # split scan + model rollup + residual-bucket census + folds
    "q_bradley_terry": 11,  # (day x type) rollup per contest/iteration margin; MM grid is 20 pairs
    "q_diff_in_differences": 1,  # one scan, one 4-cell rollup
    "q_shapley_attribution": 5,  # journey rollup + 16-set census + literal coalition grid
    "q_copeland_condorcet": 4,  # (day x type) rollup + 20-pair duel grid
    "q_holm_bonferroni": 15,  # the BH relabeling pipeline, re-derived for the stop scalar
    "q_cochran_q_filters": 0,  # one scan, one global rollup; fixture plan: 1 single-partition
    "q_random_projection_jl": 1,  # one scan + label rollup (the 16 projections are codegen)
    "q_calinski_harabasz": 9,  # assignment join + dims rollups + K-grain joins
    "q_bm25_stored_index": 1,  # posting filter + doclen join + doc rollup + TakeOrdered; fixture plan: 2 broadcast
    "q_ivf_serving_recall": 6,  # brute-force window + serving plan + per-query rollup; fixture plan: 4 broadcast
    "q_degree_assortativity": 2,  # snapshot read + degree rollup + 1-row aggregate; fixture plan: 2 broadcast, 1 single-partition
    "q_sprt_conversion": 1,  # day rollup + bounded prefix window; the prefix window is single-partition
    "q_entropy_rate_bigram": 4,  # bigram rollup + context rollup + bounded window-over-all; fixture plan: 1 broadcast, 1 single-partition
    # distributed two-phase ranks (operators/ranks.py)
    "q_systematic_sample": 2,  # range + pid exchanges; mod-filter map-side; fixture plan: 1 broadcast
    "q_cume_dist_percentiles": 2,  # range + pid exchanges + broadcast N; fixture plan: 1 broadcast, 1 single-partition
    "q_calibration_bins": 3,  # range + pid exchanges + bin rollup; fixture plan: 3 broadcast, 1 single-partition
    "q_histogram_equidepth": 3,  # range + pid exchanges + bucket rollup; fixture plan: 3 broadcast, 1 single-partition
    "q_decile_lift": 3,  # range + pid exchanges + decile rollup + cum attach; fixture plan: 7 broadcast, 4 single-partition
}


# The per-row views in the test modules are named ``<row>-<cap>``. A
# row's cap bounds the shuffles its reason above allows at scale, where
# the fixture's broadcasts and single-row folds no longer hide them.
# Where the fixture budget sits below it, the cap is listed here;
# elsewhere cap and budget are one number.
# A view holds its row to the budget and the budget under the cap, so
# loosening a budget past its reason fails the view as well.
REASON_CAPS: dict[str, int] = {
    "q_countmin_heavy_hitters_portable": 4, "q_hll_registers_portable": 3,
    "q_interval_sweepline": 3, "q_dedup_keep_best": 2, "q_source_quota": 2,
    "q_event_paths_topk": 3, "q_rank_normalize_embeddings": 3,
    "q_mom_growth": 3, "q_attribution_last_touch": 3, "q_eval_auc_pr": 5,
    "q_bigram_lm_score": 5, "q_kaplan_meier": 5, "q_cusum_changepoint": 5,
    "q_isotonic_calibration": 6, "q_cuped_adjustment": 5, "q_kendall_tau": 6,
    "q_anova_oneway": 4, "q_seasonal_decompose": 6,
    "q_compaction_bin_packing": 4, "q_bpe_apply_merges": 3,
    "q_temperature_mixing": 3, "q_psi_drift": 4, "q_woe_binning": 4,
    "q_ece_calibration": 4, "q_decision_tree_score": 3, "q_welch_ttest": 3,
    "q_permutation_test_hashed": 4, "q_quantile_normalization": 4,
    "q_ols_normal_equations": 2, "q_runs_test_daily": 4,
    "q_curation_mixture": 17, "q_exact_substr_spans": 5,
    "q_exact_substr_stats": 8, "q_weighted_sample_es": 2,
    "q_mann_kendall_trend": 8, "q_logrank_test": 6, "q_nelson_aalen": 4,
    "q_cliffs_delta": 6, "q_matryoshka_energy": 2, "q_brier_decomposition": 3,
    "q_semdedup_delta_edges": 8, "q_knn_ivf_stored": 4, "q_rrf_fusion": 3,
    "q_mrr_recall_eval": 3, "q_mmr_rerank": 4, "q_good_turing_smoothing": 7,
    "q_mcnemar_filters": 1, "q_cochran_q_filters": 1,
    "q_random_projection_jl": 2, "q_bm25_stored_index": 5,
    "q_ivf_serving_recall": 8, "q_degree_assortativity": 4,
    "q_sprt_conversion": 3, "q_entropy_rate_bigram": 5,
}


def over_budget(sweep, budgets) -> dict[str, str]:
    """Rows whose plan holds more keyed shuffles than their budget. A
    budget on a row that is not in the sweep, or that failed to build,
    is reported too: it would otherwise hold vacuously."""
    bad = {}
    for name, budget in budgets.items():
        built = sweep.get(name)
        if built is None:
            bad[name] = "not a registered row"
        elif built.error:
            bad[name] = f"failed to build: {built.error}"
        elif (n := shuffles(built)) > budget:
            bad[name] = f"{n} keyed shuffles > budget {budget}"
    return bad


def budgets(*names) -> list[tuple[str, int]]:
    """``(name, cap)`` pairs for a parametrized per-row view."""
    return [(n, REASON_CAPS.get(n, SHUFFLE_BUDGETS[n])) for n in names]


def over_view(sweep, name: str, cap: int) -> dict[str, str]:
    """One per-row view: the row over its budget, or its budget over
    the view's cap."""
    budget = SHUFFLE_BUDGETS[name]
    bad = over_budget(sweep, {name: budget})
    if budget > cap:
        bad[name] = f"budget {budget} > reason cap {cap}"
    return bad
