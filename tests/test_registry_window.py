"""Certification-debt gate (VERDICT r11 next-steps #1 and #8).

The driver's correctness gate samples the FIRST 50 entries of
``queries()`` each round. Round 11 broke the invariant "every declared
query carries a driver verdict" for the first time since r2 — 18 births
were deferred past the window and the fact lived only in a registry
comment. This test promotes the comment to CI: it recomputes the debt
from the committed CORRECTNESS_r*.json artifacts and fails when

- a declared query has NO driver verdict and is neither in the current
  window (about to be certified) nor declared in ``NEW_THIS_ROUND``
  (born this round, certifiable next round at the earliest);
- a query's latest verdict is older than the rotation horizon
  (``STALE_ROUNDS``) and the current window does not refresh it;
- the NEXT round's mandatory window (this round's births + rows that
  will cross the horizon) cannot fit in the 50 slots — i.e. the debt
  is being created faster than one window can retire it.

The horizon is 10 rounds: the catalog is ~452 queries and the window 50,
so a full rotation takes ceil(452/50) = 10 rounds — tighter would be
infeasible, looser would let verdicts rot.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

WINDOW_SIZE = 50
STALE_ROUNDS = 10


def _latest_verdicts() -> tuple[dict[str, int], int]:
    """Map query name -> latest round with a driver verdict, and the
    current (open) round number = last recorded round + 1."""
    latest: dict[str, int] = {}
    last_round = 0
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        r = int(re.search(r"r(\d+)", f.name).group(1))
        last_round = max(last_round, r)
        for name in json.loads(f.read_text()):
            latest[name] = max(latest.get(name, 0), r)
    return latest, last_round + 1


def _registry():
    from kafka_stream_service_spark.queries.registry import (
        NEW_THIS_ROUND,
        PRIORITY_ORDER,
        QUERIES,
    )

    return QUERIES, PRIORITY_ORDER, NEW_THIS_ROUND


def test_window_is_exactly_the_gate_size():
    _, order, _ = _registry()
    assert len(order) == WINDOW_SIZE, (
        f"PRIORITY_ORDER has {len(order)} names; the driver samples exactly "
        f"{WINDOW_SIZE} — a short window wastes certification slots, a long "
        "one silently drops its tail"
    )
    assert len(set(order)) == len(order), "duplicate names in PRIORITY_ORDER"


def test_every_seat_has_an_oracle():
    """A rows-only query (``oracle=None``) earns only a ``no_oracle``
    verdict from the correctness gate, so a seat spent on one certifies
    nothing (r16 seated q_knn_ivf and scored 49/50). Its re-cert seats
    the hash-verified ``portable_twin`` instead."""
    queries, order, _ = _registry()
    rows_only = [(n, queries[n].portable_twin) for n in order if queries[n].oracle is None]
    assert not rows_only, (
        f"PRIORITY_ORDER seats rows-only queries; seat their portable twins: {rows_only}"
    )


def test_every_declared_query_has_a_verdict_or_a_seat():
    queries, order, new_this_round = _registry()
    latest, _ = _latest_verdicts()
    window = set(order)
    uncovered = [
        name
        for name in queries
        if name not in latest and name not in window and name not in new_this_round
    ]
    assert not uncovered, (
        f"{len(uncovered)} declared queries have no driver verdict, no seat in "
        f"the current window, and no NEW_THIS_ROUND declaration: {uncovered}"
    )


def test_new_this_round_names_are_genuinely_new():
    queries, _, new_this_round = _registry()
    latest, _ = _latest_verdicts()
    not_registered = [n for n in new_this_round if n not in queries]
    assert not not_registered, f"NEW_THIS_ROUND names not in registry: {not_registered}"
    already_certified = [n for n in new_this_round if n in latest]
    assert not already_certified, (
        "NEW_THIS_ROUND must only hold verdict-less births; these already have "
        f"driver verdicts (stale list from a previous round?): {already_certified}"
    )


def test_no_query_rots_past_the_horizon():
    queries, order, _ = _registry()
    latest, current_round = _latest_verdicts()
    floor = current_round - STALE_ROUNDS
    window = set(order)
    rotten = [
        (name, latest[name])
        for name in queries
        if name in latest and latest[name] < floor and name not in window
    ]
    assert not rotten, (
        f"queries whose latest driver verdict predates r{floor} and that the "
        f"current window does not refresh: {rotten}"
    )


def test_steady_state_capacity_inequality():
    """VERDICT r13 next-steps #2: the look-ahead test above only checks
    the NEXT round's fit; a birth spree can pass it for several rounds
    and still doom the rotation years before any row actually rots. The
    steady-state constraint is arithmetic: every declared query needs a
    window seat at least once per STALE_ROUNDS, and plan-change re-certs
    consume seats on top of that, so

        len(QUERIES) + EXPECTED_RECERTS_PER_ROUND * STALE_ROUNDS
            <= WINDOW_SIZE * STALE_ROUNDS

    must hold or debt accrues unboundedly. EXPECTED_RECERTS_PER_ROUND is
    the budget reserved for plan-change re-certs (observed: 5 in r12, 0
    in r13, 1 in r14 — 4 is a conservative ceiling). The failure message
    carries the capacity math so a future birth is priced in slots, not
    discovered as rot."""
    queries, _, _ = _registry()
    expected_recerts_per_round = 4
    capacity = WINDOW_SIZE * STALE_ROUNDS
    demand = len(queries) + expected_recerts_per_round * STALE_ROUNDS
    assert demand <= capacity, (
        f"certification capacity exceeded: {len(queries)} queries need a seat "
        f"every {STALE_ROUNDS} rounds plus {expected_recerts_per_round} "
        f"re-cert seats/round * {STALE_ROUNDS} = {demand} seat-demand vs "
        f"{WINDOW_SIZE} slots * {STALE_ROUNDS} rounds = {capacity} capacity; "
        f"headroom for new births is {capacity - demand + len(queries)} total "
        f"queries — retire rows, widen the window, or stop declaring queries"
    )


def test_next_round_debt_fits_one_window():
    """Feasibility look-ahead: assuming the current window lands green this
    round, the NEXT round's mandatory window is this round's births plus
    every row that will cross the staleness horizon. If that exceeds the
    window size, debt is accruing faster than rotation can retire it —
    fail now, not two rounds later."""
    queries, order, new_this_round = _registry()
    latest, current_round = _latest_verdicts()
    window = set(order)
    next_floor = (current_round + 1) - STALE_ROUNDS
    will_rot = [
        name
        for name in queries
        if name not in window  # windowed rows get a current_round verdict
        and name in latest
        and latest[name] < next_floor
    ]
    mandatory = len(new_this_round) + len(will_rot)
    assert mandatory <= WINDOW_SIZE, (
        f"next round must certify {len(new_this_round)} births + {len(will_rot)} "
        f"rows going stale (< r{next_floor}) = {mandatory} > {WINDOW_SIZE} slots; "
        "stop declaring queries or widen the rotation"
    )
