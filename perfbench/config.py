"""Fixed workload constants.

Every rate, segment size and count is a constant here, never derived from
a capacity measured at run time, so two commits see the same offered load.
"""

from __future__ import annotations

# ---- spine_remote
# Spark task slots: 2 slots + the function server + the generator stay
# within a 4-core host. One file per trigger gives one task per batch.
SPINE_SLOTS = 2
# Open loop: 1k-message segments, ``type`` header only, at 0.7 segment/s
# for the first half of ``--seconds``. A 1k-message trigger takes about
# 0.6-0.7 s here, so the capacity is about 1.5 segments/s and the offered
# rate is under half of it.
OPEN_MSGS = 1000
OPEN_RATE = 0.7
# Drain: a backlog of fifteen 2k-message segments with a unique ``id``
# header on every message, landed at once. The file source takes one
# file per trigger, so the drain is fifteen micro-batches of about 1.1 s,
# about a third of it per-record work.
DRAIN_MSGS = 2000
DRAIN_SEGMENTS = 15
# Warm-up segments as (messages, unique id header), committed before
# timing begins: both header shapes and both segment sizes, the
# open-loop shape last. The per-batch cost keeps falling over the first
# batches while the JVM compiles the micro-batch path.
WARM_SEGMENTS = ((DRAIN_MSGS, True),) * 2 + ((OPEN_MSGS, False),) * 4
# An open-loop message that becomes visible later than this after its
# creation stamp counts as failed.
LATENCY_LIMIT_S = 5.0
# Events rows the spine messages are built from (cycled).
SPINE_EVENTS = 10000

# ---- catalog
# The mix, in run order, one row per group: a scan/aggregate row, a
# Python-lane row, an iterative row pinned to the 1m coalesce floor and an
# md5-lane row on the 32k session floor. Every row's cold first pass is
# paid in set-up, which bounds how many rows a run can afford.
CATALOG_MIX = (
    "q01_pricing_summary",
    "q_dedup_minhash_lsh",
    "q_triangle_oriented",
    "q_pair_index_snapshot",
)
# Passes run in set-up: the cold first pass, then one more. Pass times
# keep falling over the first four passes (about 7.2, 5.8, 5.5, 4.9 s
# after the cold pass on a 4-core host), so the first pass after the cold
# one is too far from steady to be measured.
CATALOG_WARM_PASSES = 2
# The measured phase runs ceil(seconds / CATALOG_PASS_S) whole passes, so
# the number of samples per run is fixed: 2 passes at 20 s. A measured
# pass takes about 5-6 s; the rest of the run's share of the time budget
# pays for the second warm pass.
CATALOG_PASS_S = 10.0
