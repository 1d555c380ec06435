"""Plan-shape assertions for the round-11 operators: shuffle budgets
(views of ``catalog_plans.SHUFFLE_BUDGETS``, read off the session's
catalog sweep) and the stored-index read seams and lifecycles, which
build their artifact before planning.
"""

from __future__ import annotations


import pytest
from catalog_plans import budgets, over_view
from pyspark.sql import functions as F

from kafka_stream_service_spark.plans import count_shuffle_exchanges, physical_plan
from kafka_stream_service_spark.queries.registry import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_semdedup_delta_edges", "q_knn_ivf_stored", "q_rrf_fusion",
            "q_mrr_recall_eval", "q_rouge2_pair_scores", "q_kneser_ney_bigram",
            "q_jensen_shannon_sources", "q_kruskal_wallis", "q_mmr_rerank",
            "q_good_turing_smoothing", "q_pmi_collocations", "q_mcnemar_filters",
            "q_wilcoxon_signed_rank", "q_friedman_test", "q_jonckheere_terpstra",
            "q_page_trend_test", "q_fleiss_kappa", "q_cramers_v",
            "q_cramer_von_mises", "q_harrell_c_index", "q_yule_k_lexical",
            "q_ams_f2_portable", "q_ra_link_prediction", "q_l_diversity",
            "q_t_closeness", "q_theils_u", "q_burrows_delta",
            "q_krippendorff_alpha", "q_mcc_filters", "q_odds_ratio_ci",
            "q_pacf_daily", "q_brown_forsythe", "q_granger_lag1", "q_ljung_box",
            "q_page_hinkley", "q_dunns_test", "q_conformal_coverage",
            "q_bradley_terry", "q_diff_in_differences", "q_shapley_attribution",
            "q_copeland_condorcet", "q_holm_bonferroni"),
)
def test_round11_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_ivf_stored_reads_index_and_broadcasts_probes(spark):
    """The serving path must read the index parquet (member side) and
    broadcast the tiny probe/query frames — never shuffle the index."""
    from kafka_stream_service_spark.queries.round11 import SEM_INDEX

    # plans after building the stored artifact, so it keeps its own build
    SEM_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_knn_ivf_stored"].spark_fn(spark, SF))
    token = SEM_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "serving path does not scan the stored index"
    assert "BroadcastExchange" in plan, "probe/query frames are not broadcast"


def test_rouge2_reads_pair_snapshot(spark):
    """ROUGE-2 is a snapshot consumer: with the artifact present its
    plan scans the pair parquet (the seam test pattern)."""
    from kafka_stream_service_spark.queries.dedup2 import PAIR_INDEX

    # plans after building the stored artifact, so it keeps its own build
    PAIR_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_rouge2_pair_scores"].spark_fn(spark, SF))
    token = PAIR_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "q_rouge2_pair_scores does not read the pair snapshot"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_cochran_q_filters", "q_random_projection_jl", "q_calinski_harabasz",
            "q_bm25_stored_index", "q_ivf_serving_recall",
            "q_degree_assortativity", "q_sprt_conversion", "q_entropy_rate_bigram"),
)
def test_round11_batch56_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_bm25_serving_reads_stored_postings(spark):
    """The BM25 serving probe must read the postings parquet with the
    token filter PUSHED to the scan (zone-map pruning at 100 TB)."""
    from kafka_stream_service_spark.queries.round11f import TEXT_INDEX

    # plans after building the stored artifact, so it keeps its own build
    TEXT_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_bm25_stored_index"].spark_fn(spark, SF))
    token = TEXT_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "serving probe does not read the stored text index"
    assert "PushedFilters: [In(token" in plan or "PushedFilters: [IsNotNull(token" in plan, (
        f"token filter not pushed to the postings scan:\n{plan}"
    )


def test_text_index_lifecycle(spark):
    """The serving index's parts: one stats row, non-empty postings
    (with the denormalized df) and doclen. The lifecycle every stored
    index shares is in tests/test_stored.py."""
    from kafka_stream_service_spark.queries.round11f import TEXT_INDEX

    idx = TEXT_INDEX.read(spark, SF)
    assert idx["stats"].count() == 1
    assert "df" in idx["postings"].columns
    assert idx["postings"].count() > 0 and idx["doclen"].count() > 0


def test_text_index_delta_reads_stored_base(spark):
    """The refresh probe must read the BASE index parquet (the seam
    that proves merge-not-rebuild) and scan the corpus only for the
    delta slice."""
    from kafka_stream_service_spark.queries.round11n import TEXT_BASE_INDEX

    # plans after building the stored artifact, so it keeps its own build
    TEXT_BASE_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_text_index_delta"].spark_fn(spark, SF))
    token = TEXT_BASE_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "refresh probe does not read the stored base index"
    n = count_shuffle_exchanges(plan)
    assert n <= 3, f"refresh probe plans {n} keyed shuffles (budget 3):\n{plan}"


def test_text_base_artifact_lifecycle(spark):
    """Base-index parts: postings EXCLUDE the delta slice and carry df
    NORMALIZED (no df column — the refresh-path schema choice the
    declaration commits to). The lifecycle every stored index shares
    is in tests/test_stored.py."""
    from kafka_stream_service_spark.queries.round10b import _DELTA_MOD, _DELTA_REM
    from kafka_stream_service_spark.queries.round11n import TEXT_BASE_INDEX

    idx = TEXT_BASE_INDEX.read(spark, SF)
    assert "df" not in idx["postings"].columns
    assert (
        idx["postings"]
        .filter((F.col("doc_id") % _DELTA_MOD) == _DELTA_REM)
        .count()
        == 0
    ), "base postings leak delta-slice docs"
    assert idx["stats"].count() == 1


def test_text_index_delta_untouched_tokens_unchanged(spark):
    """Refresh invariant: tokens ABSENT from the delta vocabulary have
    identical (df, sum_tf) in the base census and a full-corpus census
    — the merge only ever touches delta-vocabulary rows."""
    from kafka_stream_service_spark.queries.round10b import _DELTA_MOD, _DELTA_REM
    from kafka_stream_service_spark.queries.round11n import TEXT_BASE_INDEX
    from kafka_stream_service_spark.tables import tables

    base = TEXT_BASE_INDEX.read(spark, SF)["postings"]
    base_census = base.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("sum_tf")
    )
    d = tables(spark, SF)["documents"]
    full_tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    delta_vocab = (
        full_tf.filter((F.col("doc_id") % _DELTA_MOD) == _DELTA_REM)
        .select("token")
        .distinct()
    )
    full_census = full_tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("sum_tf")
    )
    untouched_full = full_census.join(delta_vocab, "token", "anti")
    untouched_base = base_census.join(delta_vocab, "token", "anti")
    diff = untouched_full.exceptAll(untouched_base)
    assert diff.count() == 0, "untouched-token census changed under the merge"
    assert untouched_full.count() == untouched_base.count()


def test_bm25_after_refresh_reads_base_with_pushed_terms(spark):
    """The refresh-serving probe must read the BASE postings parquet
    with the query-term filter PUSHED to the scan (zone-map pruning),
    and stay within its shuffle budget."""
    from kafka_stream_service_spark.queries.round11n import TEXT_BASE_INDEX

    # plans after building the stored artifact, so it keeps its own build
    TEXT_BASE_INDEX.build(spark, SF)
    plan = physical_plan(QUERIES["q_bm25_after_refresh"].spark_fn(spark, SF))
    token = TEXT_BASE_INDEX.path(SF).rsplit("/", 1)[-1]
    assert token in plan, "refresh serving does not read the stored base index"
    assert "In(token" in plan, f"token filter not pushed to the base scan:\n{plan}"
    n = count_shuffle_exchanges(plan)
    assert n <= 3, f"refresh serving plans {n} keyed shuffles (budget 3):\n{plan}"


def test_shapley_efficiency_axiom(spark):
    """Shapley credits must sum EXACTLY to v(full) - v(empty) (the
    efficiency axiom, x24) — a broken coalition enumeration or weight
    table would violate it before any oracle run."""
    rows = QUERIES["q_shapley_attribution"].spark_fn(spark, SF).collect()
    assert rows, "no channels attributed"
    total = sum(r.phi_x24 for r in rows)
    assert total == 24 * (rows[0].v_full - rows[0].v_empty), (
        f"efficiency violated: sum phi_x24 = {total}, "
        f"24*(v_full - v_empty) = {24 * (rows[0].v_full - rows[0].v_empty)}"
    )
