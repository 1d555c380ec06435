"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The printed line is deliberately COMPACT (per-query medians rounded to
2 dp, no whitespace, nothing else on it): the driver captures only the
tail of bench output, and round 5's full-precision line with embedded
notes outgrew that window (BENCH_r05 recorded ``parsed: null``). All
full-precision per-pass timings, the pipeline-throughput and compaction
sub-benchmarks, the streaming-replay harness/stream time split, and the
variance notes now live in ``BENCH_DETAIL.json`` written next to this
file (committed per round).

Each query is forced end-to-end with a noop sink (full computation, no
driver collect). One warmup of the flagship query absorbs JVM/codegen
startup so numbers reflect steady-state throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from kafka_stream_service_spark.queries import QUERIES  # noqa: E402
from kafka_stream_service_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # round-12 line-budget trim (VERDICT r11 next-steps #2): the driver's
    # tail capture is 2000 B and the 59-row r11 line reached 1,733 B with
    # the whole capture at 1,999/2,000 — one slow-host digit from the
    # BENCH_r05 `parsed: null` failure. The headline now carries the
    # flagship + ONE representative per operator family; the 14 demoted
    # rows (TPC-H variants beyond q01/q03, second-of-family window /
    # streaming / dedup / ANN / text rows) keep their 3-pass medians in
    # BENCH_DETAIL.json under the same names, so round-over-round
    # comparisons continue uninterrupted. tests/test_bench_line_budget.py
    # pins the worst-case serialized line < 1,900 B.
    "q01_pricing_summary",
    "q03_top_orders_by_revenue",
    "q_window_topk_per_group",
    "q_session_window",
    "q_asof_join",
    "q_dedup_minhash_lsh",
    "q_dedup_clusters",
    "q_knn_ivf",
    "q_text_wordcount",
    "q_codec_roundtrip",
    "q_training_corpus_pipeline",
    "q_pack_sequences",
    "q_hash_sample",
    "q_corpus_mixture",
    "q_text_redact_pii",
    "q_decontaminate_ngram",
    "q_inverted_index",
    # round-5 additions: wall-time accountability for the round-4
    # operators (VERDICT r4 next-steps #5) + the new real image codec
    "q_multimodal_decode",
    # quality_ops batch: audit + tokenizer-training + span-dedup shapes
    "q_jaccard_prefix_join",
    "q_winsorized_stats",
    # round-6 operators: skew-safe triangles, the stream-stream
    # full-outer replay, and the PQ ANN representative
    "q_triangle_oriented",
    "q_stream_full_outer_join_replay",
    "q_pq_adc_topk_portable",
    # round-7 operators: sequence analytics, perceptual image hashing,
    # fuzzy vocabulary join, graph link prediction, exact-fraction
    # window ranks, batch SCD1 upsert (sub-second r6 sketch rows and
    # drift-kl demoted to DETAIL_ONLY to hold the ~1.3 KB line budget)
    "q_markov_transitions",
    "q_image_ahash",
    "q_fuzzy_match_levenshtein",
    "q_jaccard_neighbors",
    "q_percent_rank_cume",
    "q_scd1_upsert",
    # round-7e: distributed-scan stats, deletion-vector read path,
    # ranking eval (one headline representative per new family; the
    # other five round-7e rows are DETAIL_ONLY)
    "q_ks_two_sample",
    "q_merge_on_read_deletion_vectors",
    "q_ndcg_ranking_eval",
    # round-7f/7g headline representatives (others in DETAIL)
    "q_bm25_retrieval",
    "q_theil_sen_slope",
    "q_modularity_by_source",
    "q_rake_keywords",
    "q_bootstrap_ci",
    "q_interval_bucket_join",
    # round-8 headline representatives: survival curve (join+window),
    # LPA community detection (iterative graph), cross-snapshot dedup
    # (LSH probe join), centroid silhouette (broadcast gemm shape);
    # the other eight r8 rows are DETAIL_ONLY
    "q_kaplan_meier",
    "q_label_propagation",
    "q_dedup_incremental_fast",
    "q_silhouette_simplified",
    # round-9 headline representatives: CCNet perplexity filter (LM
    # train + broadcast score + distributed rank) and the curation
    # capstone (census x buckets -> mixture); other r9 rows DETAIL_ONLY
    "q_ccnet_perplexity_buckets",
    "q_curation_mixture",
    # round-11 headline representatives: the incremental SemDeDup probe
    # over the stored semantic index, and the streaming index-probe
    # dedup capstone (2 rows ~ +58 B; line stays well under 1.9 KB)
    "q_semdedup_delta_edges",
    "q_stream_index_probe_dedup_replay",
]

# Timed with the same 3-pass-median methodology but reported ONLY in
# BENCH_DETAIL.json: the driver's tail capture is 2000 chars and the
# one-line contract with these names included would exceed it. Wall-time
# accountability without breaking the line budget.
DETAIL_ONLY = [
    # demoted from HEADLINE (round 6): r5-era rows with recorded
    # BENCH_r05/judge cells — still timed every run, reported here so
    # the one-line driver contract stays well under the 2000-char tail
    # capture as the catalog grows (measured: 62 rows = 1822 bytes,
    # too close; 42 rows ~ 1.25 KB)
    "q_ohlc_resample",
    "q_conversion_funnel",
    "q_cohort_retention",
    "q_knn_cosine_int8",
    "q_salted_count_distinct",
    "q_chunk_documents",
    "q_boilerplate_bigrams",
    "q_segment_dedup_reconstruct",
    "q_rolling_anomaly",
    "q_ewma_smoothing",
    "q_triangle_candidates",
    "q_upsert_merge",
    "q_cdc_snapshot_diff",
    "q_audio_decode",
    "q_pagerank_candidates",
    "q_kmeans_assign_int8",
    "q_data_quality_report",
    "q_bpe_merge_candidates",
    "q_repeated_ngram_spans",
    "q_embedding_outliers",

    "q_feature_hashing",
    "q_stream_merge_sink_replay",
    "q_scd2_point_in_time_join",
    "q_source_quota",
    "q_cogroup_conversion_lag",
    "q_event_paths_topk",
    "q_rfm_segmentation",
    "q_rank_normalize_embeddings",
    "q_kcore_decomposition",
    "q_dedup_keep_best",
    "q_token_budget_allocation",
    # late round-6 batch: analytics / model-eval / SQL-surface
    "q_skyline_pareto",
    "q_mad_outliers",
    "q_autocorr_lag",
    "q_mom_growth",
    "q_attribution_last_touch",
    "q_eval_auc_pr",
    "q_calibration_bins",
    "q_group_kfold",
    "q_bigram_lm_score",
    "q_lateral_topn",
    "q_null_safe_join",
    "q_variant_shred",
    "q_hops_recursive_cte",
    "q_chi2_independence",
    "q_entropy_by_source",
    "q_gini_concentration",
    "q_seasonal_weekday_deviation",
    "q_stream_topk_window_replay",
    "q_snapshot_time_travel",
    "q_collated_join",
    "q_join_hints",
    "q_wiredump_roundtrip",
    "q_udaf_grouped_agg",
    "q_arrow_map_batches",
    "q_arrow_grouped_stats",
    "q_stream_wiredump_source_replay",
    "q_entity_resolution",
    "q_binaryfile_ingest",
    "q_session_window_dynamic_gap",
    "q_order_cycle_time",
    "q_stream_wiredump_sink_replay",
    "q_statestore_introspection",
    "q_stream_fanout_dual_sink_replay",
    "q_stream_available_now_incremental",
    "q_distributed_exact_quantiles",
    "q_stream_hll_merge_replay",
    "q_time_weighted_average",
    "q_source_overlap_matrix",
    "q_weighted_median",
    "q_lorenz_curve",
    # demoted from HEADLINE (round 7): fast sketch/audit rows with
    # recorded BENCH_r06 cells; families still headline-represented
    "q_countmin_heavy_hitters_portable",
    "q_bloom_filter_audit_portable",
    "q_hll_registers_portable",
    "q_interval_sweepline",
    "q_pq_encode_portable",
    "q_corpus_drift_kl",
    # round-7 additions not in HEADLINE
    "q_activity_bitmap",
    "q_run_length_islands",
    "q_window_count_distinct",
    "q_decile_lift",
    "q_calendar_gap_fill",
    "q_target_encoding",
    "q_minmax_scaling",
    "q_systematic_sample",
    "q_histogram_2d",
    "q_group_by_all",
    "q_sql_udf",
    "q_parameterized_sql",
    "q_ngram_novelty",
    "q_pipe_syntax",
    "q_sql_scripting",
    "q_execute_immediate",
    "q_mannwhitney_u",
    "q_crosscorr_lag",
    "q_k_anonymity_audit",
    "q_text_readability",
    "q_identifier_clause",
    "q_zonemap_pruning_audit",
    "q_containment_join",
    "q_audio_zero_crossing",
    "q_mutual_information",
    "q_target_encoding_loo",
    "q_embedding_covariance_int8",
    "q_select_except",
    "q_qq_points",
    "q_proto_roundtrip",
    # corpus-wide portable-hash LSH + brute-force truth: an md5-bound
    # AUDIT row (like the bloom/countmin audits), not a throughput op
    "q_lsh_recall_audit",
    "q_degree_distribution",
    "q_event_trigram_patterns",
    "q_image_dhash",
    "q_zipf_law_fit",
    "q_temporal_split_embargo",
    "q_xml_roundtrip",
    "q_try_arithmetic",
    # round-8 additions not in HEADLINE
    "q_cusum_changepoint",
    "q_holt_linear_smoothing",
    "q_isotonic_calibration",
    "q_cuped_adjustment",
    "q_logreg_score_text",
    "q_basket_triples_apriori",
    "q_compaction_bin_packing",
    "q_bottomk_coordinated_sample",
    "q_kendall_tau",
    "q_spearman_rho",
    "q_anova_oneway",
    "q_seasonal_decompose",
    "q_ann_rerank_two_stage",
    "q_psi_drift",
    "q_ece_calibration",
    "q_woe_binning",
    "q_decision_tree_score",
    "q_clustering_coefficient",
    "q_bpe_apply_merges",
    "q_skipgram_negative_sampling",
    "q_temperature_mixing",
    # portable twin of the headline xxhash64 incremental dedup (md5 is
    # the oracle's price; both verdict-agree, pytest-pinned)
    "q_dedup_incremental_snapshot",
    "q_preference_pairs",
    # round-9 additions not in HEADLINE
    "q_gopher_quality_rules",
    "q_welch_ttest",
    "q_hits_two_iterations",
    "q_bpe_train_iterations",
    "q_dsir_importance_weights",
    # round-10: the materialized pair-index build (VERDICT r9 #1) is its
    # own timed row and runs BEFORE its consumers (chrf/bleu/cluster
    # audit) in list order, so consumer rows measure snapshot-read plans
    "q_pair_index_snapshot",
    "q_chrf_pair_fscore",
    "q_runs_test_daily",
    "q_stream_quality_gate_replay",
    "q_stream_sliding_window_replay",
    "q_permutation_test_hashed",
    "q_holt_winters_additive",
    "q_sql_session_variables",
    "q_quantile_normalization",
    "q_ols_normal_equations",
    "q_hash_uniformity_audit",
    "q_trigram_like_index",
    "q_table_fingerprint",
    "q_tokenizer_fertility",
    "q_bleu_ngram_precision",
    "q_hll_set_algebra",
    "q_forecast_backtest",
    "q_span_corruption_masking",
    "q_dataset_shard_manifest",
    # round-10 additions not in HEADLINE
    "q_exact_substr_spans",
    "q_exact_substr_stats",
    "q_semdedup_prune",
    "q_semdedup_stats",
    "q_pair_index_delta",
    "q_power_iteration_top_eigvec",
    "q_weighted_sample_es",
    "q_mann_kendall_trend",
    "q_logrank_test",
    "q_nelson_aalen",
    "q_cliffs_delta",
    "q_heaps_law_fit",
    "q_matryoshka_energy",
    "q_brier_decomposition",
    "q_stream_weighted_sample_replay",
    "q_pair_containment",
    # round-11 additions (two marquee rows promoted to HEADLINE; the
    # rest stay detail so the one-line budget holds)
    "q_knn_ivf_stored",
    "q_rrf_fusion",
    "q_mrr_recall_eval",
    "q_rouge2_pair_scores",
    "q_kneser_ney_bigram",
    "q_jensen_shannon_sources",
    "q_kruskal_wallis",
    "q_mmr_rerank",
    "q_good_turing_smoothing",
    "q_pmi_collocations",
    "q_mcnemar_filters",
    "q_wilcoxon_signed_rank",
    "q_friedman_test",
    "q_cohens_kappa",
    "q_rank_biased_overlap",
    "q_cochran_q_filters",
    "q_random_projection_jl",
    "q_calinski_harabasz",
    "q_bm25_stored_index",
    "q_ivf_serving_recall",
    "q_degree_assortativity",
    "q_sprt_conversion",
    "q_entropy_rate_bigram",
    # round-11 batch 8/9 (stored-LM quality filter, CUSUM, coreset, FDR)
    "q_kn_lm_stored",
    "q_doc_logprob_stored_lm",
    "q_cusum_drift",
    "q_kcenter_coreset",
    "q_benjamini_hochberg",
    # round-11 batches 10-14 (ordered-alternative/agreement/association
    # tier, survival/lexical/sketch/privacy completions, text-index
    # refresh)
    "q_jonckheere_terpstra",
    "q_page_trend_test",
    "q_fleiss_kappa",
    "q_cramers_v",
    "q_cramer_von_mises",
    "q_harrell_c_index",
    "q_yule_k_lexical",
    "q_ams_f2_portable",
    "q_ra_link_prediction",
    "q_l_diversity",
    "q_t_closeness",
    "q_theils_u",
    "q_burrows_delta",
    "q_krippendorff_alpha",
    "q_text_index_delta",
    # round-11 batch 15/16 (classifier summaries, PACF, variance
    # homogeneity, Granger)
    "q_mcc_filters",
    "q_odds_ratio_ci",
    "q_pacf_daily",
    "q_brown_forsythe",
    "q_granger_lag1",
    # round-11 batch 17 (streaming CUSUM)
    "q_stream_cusum_replay",
    # round-11 batch 18 (residual whiteness, PH drift, Dunn post-hoc)
    "q_ljung_box",
    "q_page_hinkley",
    "q_dunns_test",
    # round-11 batch 19 (refresh-consistent BM25 serving)
    "q_bm25_after_refresh",
    # round-11 batch 20 (split-conformal coverage)
    "q_conformal_coverage",
    # round-11 batch 21 (preference strengths, DiD)
    "q_bradley_terry",
    "q_diff_in_differences",
    # round-11 batch 22 (Shapley attribution, Copeland/Condorcet)
    "q_shapley_attribution",
    "q_copeland_condorcet",
    # round-11 batch 23 (FWER step-down)
    "q_holm_bonferroni",
    # round-12 headline demotions (line-budget trim, VERDICT r11 #2):
    # family-redundant rows — still timed with the same 3-pass-median
    # methodology every run, reported here under their original names
    "q02_revenue_by_nation",
    "q05_regional_supplier_volume",
    "q06_forecast_revenue_filter",
    "q10_returned_items",
    "q_window_running_sum",
    "q_tumbling_window",
    "q_dedup_exact_hash",
    "q_knn_cosine_bruteforce",
    "q_cosine_pairs_blocked",
    "q_text_token_stats",
    "q_dedup_embedding_cosine",
    "q_stream_session_window_replay",
    "q_stream_two_level_agg_replay",
    # round-12 births (lifecycle tier): snapshot GC census + IVF refresh
    "q_snapshot_gc_census",
    "q_knn_ivf_refresh",
    # round-12 rank migrations previously untimed anywhere: wall-time
    # accountability for the distributed-ntile plans
    "q_histogram_equidepth",
    "q_cume_dist_percentiles",
]


# Hard budget for the one-line driver contract: the driver records the
# LAST 2000 chars of output; stage-progress junk can precede the line in
# that capture (r11's line was 1,733 B and the capture sat at 1,999 of
# 2,000), so the line itself must stay well clear.
# tests/test_bench_line_budget.py asserts the worst-case serialization
# (every timing at 3 integer digits) stays under this.
LINE_BUDGET_BYTES = 1900


def headline_line(timings: dict[str, float], total: float, sf: float, dp: int) -> str:
    """The exact one-line serialization the driver parses."""
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, dp) for k, v in timings.items()},
            "sf": sf,
        },
        separators=(",", ":"),
    )


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pipeline_throughput(spark, sf_dir: str, tmp_dir: str) -> dict:
    """Messages/sec through the full reference pipeline
    (decode -> uppercase -> encode) over wire-framed events rows.

    Frame materialization is untimed; the timed section is exactly the
    reference's data path (StreamsApplication.java:146-150 equivalent).
    """
    from pyspark.sql import functions as F

    from kafka_stream_service_spark.codec import encode_message, message_struct
    from kafka_stream_service_spark.pipeline import run_pipeline_batch
    from kafka_stream_service_spark.tables import tables
    from kafka_stream_service_spark.transform import uppercase_function

    events = tables(spark, sf_dir)["events"]
    headers = F.create_map(F.lit("type"), F.array(F.col("event_type")))
    frames = events.select(
        F.lit(None).cast("binary").alias("key"),
        encode_message(message_struct(headers, F.encode(F.col("props"), "utf-8"))).alias("value"),
    )
    frames.write.mode("overwrite").parquet(tmp_dir)
    framed = spark.read.parquet(tmp_dir)
    n = framed.count()

    # the spine's one-Arrow-pass body (parity-tested against a driver-side
    # codec loop in test_pipeline.py)
    def best_of(fn, runs: int = 3) -> float:
        sec = None
        for _ in range(runs):
            t0 = time.time()
            force(fn(framed, uppercase_function))
            elapsed = time.time() - t0
            sec = elapsed if sec is None else min(sec, elapsed)
        return sec

    sec = best_of(run_pipeline_batch)

    # the reference's ACTUAL architecture: the per-record function hosted
    # in an external server, reached over a real gRPC/HTTP-2 TCP hop
    # (stdlib transport, h2grpc.py) from every executor task — measured
    # so the in-process vs remote-hop cost is a recorded number, not a
    # guess (round 6; detail-only)
    from kafka_stream_service_spark.grpc_function import (
        pb_decode_message,
        pb_encode_message,
    )
    from kafka_stream_service_spark.h2grpc import H2GrpcServer
    from kafka_stream_service_spark.transform import FunctionConfig, RemoteFunction

    def upper_handler(request_iterator):
        for raw in request_iterator:
            headers, payload = pb_decode_message(raw)
            yield pb_encode_message(headers, payload.decode("utf-8").upper().encode("utf-8"))

    srv = H2GrpcServer(upper_handler)
    try:
        remote = RemoteFunction(
            FunctionConfig(host="127.0.0.1", port=srv.port, transport="h2-stdlib")
        )
        remote_sec = best_of(lambda df, _fn: run_pipeline_batch(df, remote))
    finally:
        srv.close()
    return {
        "msgs": n,
        "sec": round(sec, 3),
        "msgs_per_sec": round(n / sec),
        "remote_grpc_hop_msgs_per_sec": round(n / remote_sec),
    }


def compaction_bench(spark, sf_dir: str, tmp_dir: str) -> dict:
    """Small-file compaction payoff at sf0.1: fragment events into 64
    files, measure an aggregate scan before, compact via the
    partition-plan path, measure after. Reports file counts, compact
    cost, and the scan-time delta the rewrite buys."""
    import glob

    from pyspark.sql import functions as F

    from kafka_stream_service_spark.operators.maintenance import (
        compact_partitions,
        plan_compaction,
    )
    from kafka_stream_service_spark.tables import tables

    root = os.path.join(tmp_dir, "fragmented")
    ev = tables(spark, sf_dir)["events"].select("event_id", "event_type", "value")
    ev.repartition(64).write.parquet(root)

    def scan_sec(runs: int = 3) -> float:
        best = None
        for _ in range(runs):
            t0 = time.time()
            spark.read.parquet(root).agg(
                F.count(F.lit(1)), F.sum("value"), F.sum(F.hash("event_id"))
            ).collect()
            best = min(best or 9e9, time.time() - t0)
        return round(best, 3)

    files_before = len(glob.glob(root + "/*.parquet"))
    sec_before = scan_sec()
    t0 = time.time()
    total = sum(p.total_bytes for p in plan_compaction(spark, root))
    done = compact_partitions(spark, plan_compaction(spark, root, target_file_bytes=total))
    compact_sec = round(time.time() - t0, 3)
    files_after = len(glob.glob(root + "/*.parquet"))
    sec_after = scan_sec()
    assert done and files_after < files_before
    return {
        "files_before": files_before,
        "files_after": files_after,
        "compact_sec": compact_sec,
        "scan_sec_before": sec_before,
        "scan_sec_after": sec_after,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    # warmup: JVM + codegen + parquet footer caches + Python/Arrow workers
    force(QUERIES["q02_revenue_by_nation"].spark_fn(spark, sf_dir))
    force(
        spark.range(spark.sparkContext.defaultParallelism * 2)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(lambda it: it, schema="id long")
    )

    # three timed passes per query in a fixed order, report the per-query
    # MEDIAN: single-JVM timings on a shared host are noisy (transient
    # steal, GC); the median rejects one bad pass without letting a
    # lucky outlier understate steady-state cost (min-of-2 did — the
    # r1->r2 q01/q03 "regressions" were pass-to-pass variance)
    # several queries localCheckpoint multi-consumer subtrees; the
    # cached blocks are reclaimed by the ContextCleaner only after a
    # driver GC notices the dropped references. Force one every 12
    # queries so later queries measure steady-state compute, not the
    # memory pressure of dozens of queries' orphaned checkpoint blocks
    # (observed: +0.3-0.7 s inflation on the heavy tail with one GC per
    # pass at 28 queries; at 49 queries the heavy graph/cluster queries
    # doubled — 1.8 s steady-state vs 3.6 s measured mid-pass).
    import gc

    def reclaim() -> None:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # ContextCleaner removes the newly-unreferenced checkpoint/shuffle
        # blocks on a BACKGROUND thread — without a settle pause that
        # cleanup overlaps (and bills itself to) the next timed query;
        # observed as late-pass queries measuring 2-3x their solo cost
        time.sleep(0.3)

    from kafka_stream_service_spark.queries import streaming_replay

    all_timed = HEADLINE + DETAIL_ONLY
    runs: dict[str, list[float]] = {name: [] for name in all_timed}
    replay_split: dict[str, list[dict[str, float]]] = {}
    for _ in range(3):
        for qi, name in enumerate(all_timed):
            if qi % 12 == 0:
                reclaim()
            fn = QUERIES[name].spark_fn
            streaming_replay.LAST_TIMINGS.update(
                write_chunks_sec=0.0, stream_run_sec=0.0
            )
            t0 = time.time()
            force(fn(spark, sf_dir))
            runs[name].append(round(time.time() - t0, 3))
            if any(streaming_replay.LAST_TIMINGS.values()):
                # harness (chunk materialization) vs checkpointed
                # streaming run, stamped by streaming_replay's
                # side-channel during the call above. Detected by USE
                # of the side channel, not by name (VERDICT r13 #6:
                # replay-shaped rows without the _replay suffix —
                # q_continuous_aggregate — were invisible to the split)
                replay_split.setdefault(name, []).append(
                    {
                        "harness_sec": round(
                            streaming_replay.LAST_TIMINGS["write_chunks_sec"], 3
                        ),
                        "stream_sec": round(
                            streaming_replay.LAST_TIMINGS["stream_run_sec"], 3
                        ),
                    }
                )
        reclaim()
    medians = {name: sorted(ts)[len(ts) // 2] for name, ts in runs.items()}
    timings = {name: medians[name] for name in HEADLINE}
    detail_timings = {name: medians[name] for name in DETAIL_ONLY}

    # VERDICT r12 next-steps #7: the ~150 registered rows outside the two
    # 3-pass tiers (the trivial scalar/relational tier — families all
    # represented above) get ONE timed pass each, so a perf regression
    # there is visible round-over-round at all. Single-pass by design:
    # these are sub-second rows and a 3-pass protocol would double the
    # bench runtime for noise-level precision; the cost of THIS section
    # is recorded alongside it.
    covered = set(all_timed)
    rest = [n for n in QUERIES if n not in covered]
    rest_single_pass: dict[str, float] = {}
    t_rest0 = time.time()
    for qi, name in enumerate(rest):
        if qi % 12 == 0:
            reclaim()
        streaming_replay.LAST_TIMINGS.update(
            write_chunks_sec=0.0, stream_run_sec=0.0
        )
        t0 = time.time()
        force(QUERIES[name].spark_fn(spark, sf_dir))
        rest_single_pass[name] = round(time.time() - t0, 3)
        if any(streaming_replay.LAST_TIMINGS.values()):
            # same harness-vs-stream accountability as the 3-pass tier:
            # a 13 s replay cell here is mostly fixture materialization,
            # and the split is what says so (use-detected, as above)
            replay_split.setdefault(name, []).append(
                {
                    "harness_sec": round(
                        streaming_replay.LAST_TIMINGS["write_chunks_sec"], 3
                    ),
                    "stream_sec": round(
                        streaming_replay.LAST_TIMINGS["stream_run_sec"], 3
                    ),
                }
            )
    rest_section_sec = round(time.time() - t_rest0, 1)

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        pipe = pipeline_throughput(spark, sf_dir, os.path.join(td, "frames"))
    with tempfile.TemporaryDirectory() as td:
        compaction = compaction_bench(spark, sf_dir, td)

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "queries_median": timings,
        "detail_only_median": detail_timings,
        "queries_all_passes": runs,
        "rest_single_pass": rest_single_pass,
        "rest_single_pass_section_sec": rest_section_sec,
        "bench_coverage": {
            "timed_3pass": len(all_timed),
            "timed_single_pass": len(rest),
            "total_registered": len(QUERIES),
        },
        "replay_harness_vs_stream": replay_split,
        "pipeline_throughput": pipe,
        "compaction": compaction,
        "notes": {
            "replay_rows": (
                "each *_replay timing includes the fixture harness; see "
                "replay_harness_vs_stream for the (chunk-write, streaming-run) "
                "split per pass"
            ),
            "variance": (
                "single-JVM medians on this shared host swing +/-30% "
                "between whole-process runs (q01 measured 1.2-1.7 s same "
                "code); compare totals and trends, not single cells"
            ),
            "rest_single_pass": (
                "one timed pass per registered row outside the 3-pass "
                "tiers (VERDICT r12 #7) — regression visibility for the "
                "scalar/relational tier; single-pass values carry full "
                "host-band noise, so compare trends only"
            ),
        },
    }
    (REPO / "BENCH_DETAIL.json").write_text(json.dumps(detail, indent=1) + "\n")

    # ONE compact line for the driver's tail capture: 2-dp medians, no
    # whitespace — everything else lives in BENCH_DETAIL.json. The
    # driver records exactly the LAST 2000 chars of output (BENCH_r04/05
    # tails), so the line must stay under LINE_BUDGET_BYTES with margin;
    # if catalog growth ever pushes past it, degrade precision (1 dp)
    # rather than dropping names: the driver contract needs every
    # headline query present.
    line = headline_line(timings, total, sf, 2)
    if len(line) > LINE_BUDGET_BYTES:
        line = headline_line(timings, total, sf, 1)
    print(line)


if __name__ == "__main__":
    main()
