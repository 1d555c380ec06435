"""Plan-shape assertions for the round-10 operators: shuffle budgets
(views of ``catalog_plans.SHUFFLE_BUDGETS``) and broadcast shapes read
off the session's catalog sweep. The pair and bucket index read seams
are in ``tests/test_pair_index.py``.
"""

from __future__ import annotations

import pytest
from catalog_plans import broadcast_joins, budgets, over_budget, over_view


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    budgets("q_exact_substr_spans", "q_exact_substr_stats", "q_weighted_sample_es",
            "q_mann_kendall_trend", "q_logrank_test", "q_nelson_aalen",
            "q_cliffs_delta", "q_heaps_law_fit", "q_matryoshka_energy",
            "q_brier_decomposition"),
)
def test_round10_ops_shuffle_budget(catalog_sweep, name, max_exchanges):
    assert not over_view(catalog_sweep, name, max_exchanges)


def test_semdedup_broadcasts_cluster_frames(catalog_sweep):
    assert broadcast_joins(catalog_sweep["q_semdedup_prune"].plan) >= 1  # the K-row ns frame


def test_power_iteration_is_dims_grain_after_covariance(catalog_sweep):
    """The two iterations + Rayleigh must run on dims^2-grain frames —
    no data-scale exchange after the covariance rollup (its budget in
    the table: scan + vec_id self-join + dims rollups + tiny joins)."""
    assert not over_budget(catalog_sweep, dict(budgets("q_power_iteration_top_eigvec")))
