"""Round-9 operator semantics + plan assertions.

Oracle hashes certify value equality; these tests pin the PROPERTIES
each operator exists for (bucket thirds, streaming/batch rule
agreement, greedy monotonicity, statistic sanity) and the plan shapes
that make them scale (shuffle budgets, broadcast models), read off the
session's catalog sweep.
"""

from __future__ import annotations

import re

import pytest
from catalog_plans import broadcast_joins, budgets, over_view

from kafka_stream_service_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# semantics
# ---------------------------------------------------------------------------


def test_ccnet_buckets_are_exact_thirds_and_ordered(spark):
    rows = QUERIES["q_ccnet_perplexity_buckets"].spark_fn(spark, SF).collect()
    n = len(rows)
    sizes = {b: sum(1 for r in rows if r.bucket == b) for b in ("head", "middle", "tail")}
    assert sum(sizes.values()) == n
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    # ordering: every head score <= every tail score (ties broken by
    # doc_id inside the rank, so overlap is only possible at equal score)
    max_head = max(r.ppl_proxy_q6 for r in rows if r.bucket == "head")
    min_tail = min(r.ppl_proxy_q6 for r in rows if r.bucket == "tail")
    assert max_head <= min_tail


def test_streaming_gate_agrees_with_batch_census(spark):
    """The in-flight rule census must match the batch q_gopher_quality_rules
    on (source, n_docs, n_pass) — the two forms state the same rules
    through different plans (array higher-order vs explode+groupBy)."""
    stream = {
        r.source: (r.n_docs, r.n_pass)
        for r in QUERIES["q_stream_quality_gate_replay"].spark_fn(spark, SF).collect()
    }
    batch = {
        r.source: (r.n_docs, r.n_pass)
        for r in QUERIES["q_gopher_quality_rules"].spark_fn(spark, SF).collect()
    }
    assert stream == batch


def test_welch_t_sign_and_df_bounds(spark):
    r = QUERIES["q_welch_ttest"].spark_fn(spark, SF).collect()[0]
    # t sign follows the mean difference
    assert (r.t_q6 > 0) == (r.mean1_q2 > r.mean2_q2)
    # Welch df lies in [min(n1,n2)-1, n1+n2-2]
    df = r.df_q6 / 1e6
    assert min(r.n1, r.n2) - 1 <= df <= r.n1 + r.n2 - 2
    # Cohen's d and t agree in sign
    assert (r.cohens_d_q6 > 0) == (r.t_q6 > 0)


def test_bpe_training_is_greedy_and_compresses(spark):
    rows = sorted(
        QUERIES["q_bpe_train_iterations"].spark_fn(spark, SF).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == [1, 2, 3]
    # greedy: each round's winning count never exceeds the previous
    # round's (merging cannot create a more frequent ORIGINAL pair; new
    # merged symbols only shrink counts of old pairs)
    counts = [r.pair_count for r in rows]
    assert counts == sorted(counts, reverse=True), counts
    # every merge strictly shrinks the corpus token count
    toks = [r.corpus_tokens_after for r in rows]
    assert toks == sorted(toks, reverse=True) and len(set(toks)) == 3, toks


def test_hits_roles_and_ranks(spark):
    rows = QUERIES["q_hits_two_iterations"].spark_fn(spark, SF).collect()
    by_role = {}
    for r in rows:
        by_role.setdefault(r.role, []).append(r)
    assert set(by_role) == {"authority", "hub"}
    for role, rs in by_role.items():
        ranks = sorted(r.rnk for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        # rank order follows (score2 desc, entity_id); scores are emitted
        # as canonical integer strings (DECIMAL/HUGEINT carrier, ADVICE
        # r9 overflow-envelope fix) — parse for the numeric check
        ordered = sorted(rs, key=lambda r: (-int(r.score2_str), r.entity_id))
        assert [r.rnk for r in ordered] == ranks
        assert all(int(r.score2_str) >= int(r.score1_str) >= 1 for r in rs)


def test_runs_test_statistic_sane(spark):
    r = QUERIES["q_runs_test_daily"].spark_fn(spark, SF).collect()[0]
    assert 1 <= r.runs <= r.n1 + r.n2 <= 365
    # mu in [1, n+1]
    assert 1_000_000 <= r.mu_q6 <= (r.n1 + r.n2 + 1) * 1_000_000


def test_chrf_scores_bounded_and_consistent(spark):
    rows = QUERIES["q_chrf_pair_fscore"].spark_fn(spark, SF).collect()
    assert rows, "verified pairs exist at sf0.001"
    for r in rows:
        assert 0 <= r.o_clip <= min(r.n_a, r.n_b)
        for q in (r.p_q6, r.r_q6, r.f_q6):
            assert 0 <= q <= 1_000_000
        # F1 lies between min and max of P and R (harmonic mean), with
        # 1-ulp slack for the independent floor quantizations
        assert min(r.p_q6, r.r_q6) - 1 <= r.f_q6 <= max(r.p_q6, r.r_q6) + 1


def test_dsir_scores_every_document_once(spark):
    rows = QUERIES["q_dsir_importance_weights"].spark_fn(spark, SF).collect()
    n_docs = QUERIES["q_gopher_quality_rules"].spark_fn(spark, SF).agg(
        {"n_docs": "sum"}
    ).collect()[0][0]
    assert len(rows) == n_docs
    for r in rows[:50]:
        assert r.n_tokens > 0
        # avg is the floored mean of the total
        assert r.avg_logw_q6 * r.n_tokens <= r.logw_micro < (r.avg_logw_q6 + 1) * r.n_tokens


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_gopher_quality_rules", "q_dsir_importance_weights",
            "q_welch_ttest", "q_hits_two_iterations"),
)
def test_round9_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_ccnet_model_attaches_by_broadcast(catalog_sweep):
    """The bigram-TYPE-grain model must broadcast into the per-doc tf
    join — corpus rows never shuffle against the model."""
    plan = catalog_sweep["q_ccnet_perplexity_buckets"].plan
    assert broadcast_joins(plan) >= 2  # scored model + n_total scalar


def test_dsir_weight_table_broadcasts(catalog_sweep):
    assert broadcast_joins(catalog_sweep["q_dsir_importance_weights"].plan) >= 1


def test_chrf_counts_only_endpoint_docs(catalog_sweep):
    """The trigram counting must touch only pair-endpoint docs —
    candidate-scale, never corpus-scale: the documents scan is
    semi-joined against the broadcast endpoint set before any n-gram
    work. The semi-join runs under the endpoint-text barrier, so it is
    read from that barrier's plan."""
    cut = catalog_sweep["q_chrf_pair_fscore"].barriers
    semi = [p for p in cut if "BroadcastHashJoin LeftSemi" in p]
    assert semi, cut
    assert "documents.parquet" in semi[0], semi[0]


def test_welch_is_one_scan_partial_agg(catalog_sweep):
    plan = catalog_sweep["q_welch_ttest"].plan
    # exactly one scan NODE (formatted explain prints each node twice:
    # once in the tree, once in the detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial" in plan  # map-side moment combine


def test_permutation_test_pvalue_bounds(spark):
    r = QUERIES["q_permutation_test_hashed"].spark_fn(spark, SF).collect()[0]
    assert 0 <= r.n_exceed <= r.n_perms == 32
    # p = (1 + exceed)/(K+1) in (0, 1]
    assert 0 < r.p_value_q6 <= 1_000_000
    assert r.p_value_q6 == (1 + r.n_exceed) * 1_000_000 // 33


def test_holt_winters_initialization_and_shape(spark):
    rows = sorted(
        QUERIES["q_holt_winters_additive"].spark_fn(spark, SF).collect(),
        key=lambda r: r.day_ix,
    )
    assert rows[0].day_ix == 0
    # cold start: level = x_0, zero trend and zero active seasonal
    assert rows[0].level_q6 == rows[0].x_cents * 1_000_000
    assert rows[0].trend_q6 == 0 and rows[0].seasonal_q6 == 0
    # consecutive-day recursion: day indexes are contiguous from 0
    assert [r.day_ix for r in rows] == list(range(len(rows)))


def test_quantile_normalization_aligns_distributions(spark):
    """The defining property: after normalization every source carries
    the IDENTICAL multiset of values (the reference distribution)."""
    rows = QUERIES["q_quantile_normalization"].spark_fn(spark, SF).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r.norm_q6)
    dists = {s: tuple(sorted(v)) for s, v in by_source.items()}
    assert len(set(dists.values())) == 1, "sources differ after normalization"


def test_ols_matches_numpy_lstsq(spark):
    """The moment-based Cramer solve must agree with numpy's dense
    lstsq on the same rows (the fixture's l_quantity is independent of
    l_extendedprice by construction, so R^2 ~ 0 — the check is
    COEFFICIENT agreement, not fit quality)."""
    import duckdb
    import numpy as np

    r = QUERIES["q_ols_normal_equations"].spark_fn(spark, SF).collect()[0]
    assert 0 <= r.r2_q6 <= 1_000_000
    raw = duckdb.sql(
        f"""SELECT CAST(l_quantity AS DOUBLE) AS x1,
                   CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS DOUBLE) AS x2,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DOUBLE) AS y
            FROM read_parquet('{SF}/lineitem.parquet')"""
    ).fetchnumpy()
    X = np.column_stack([np.ones_like(raw["x1"]), raw["x1"], raw["x2"]])
    beta, *_ = np.linalg.lstsq(X, raw["y"], rcond=None)
    got = np.array([r.b0_q6, r.b1_q6, r.b2_q6]) / 1e6
    assert np.allclose(got, beta, rtol=1e-6, atol=1e-3), (got, beta)


def test_portable_hash_passes_ks_uniformity(spark):
    """The hash the whole portable tier rests on must be statistically
    uniform: sqrt(n)-scaled KS below the alpha=0.001 critical value
    (1.95) — a biased hash would skew minhash, LSH, sampling, and the
    permutation test silently."""
    r = QUERIES["q_hash_uniformity_audit"].spark_fn(spark, SF).collect()[0]
    assert r.n > 1000
    assert 0 <= r.d_plus_q9 and 0 <= r.d_minus_q9
    assert r.ks_sqrt_n_q6 < 1_950_000, f"hash fails uniformity: {r}"


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_permutation_test_hashed", "q_quantile_normalization",
            "q_ols_normal_equations", "q_runs_test_daily", "q_curation_mixture"),
)
def test_round9_late_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)
