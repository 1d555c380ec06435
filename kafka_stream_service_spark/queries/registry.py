"""Query registry: name -> (spark callable, optional DuckDB oracle SQL).

The driver contract (``__spark_entry__.py``) wants two dicts:
``queries()[name](spark, sf_dir) -> DataFrame`` and ``oracle_sql()[name]``
as equivalent ANSI SQL for DuckDB. Queries without SQL-expressible
semantics register ``oracle=None`` and get the driver's weaker rows-only
check.

Oracle-matching rules applied throughout the catalog (SURVEY.md §7):

- every computed column is aliased identically in Spark and SQL;
- double aggregations go through exact DECIMAL arithmetic wherever the
  data permits (all money columns in the fixtures are 2-decimal), so
  results are bit-identical regardless of summation order — this matters
  because Spark and DuckDB sum partitions in different orders;
- timestamps stay UTC (session TZ pinned in session.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    # For rows-only queries (oracle=None): the name of the hash-verified
    # portable twin that certifies the same pipeline under portable
    # (md5-derived) hashing. Machine-readable so CORRECTNESS readers can
    # resolve a `no_oracle` row to its green certificate
    # (tests/test_coverage_doc.py enforces the invariant).
    portable_twin: str | None = None


QUERIES: dict[str, QuerySpec] = {}


def _pin_session_confs(spark: SparkSession) -> None:
    """Oracle-critical session confs, applied defensively on every query
    call: the driver's harness owns its SparkSession and may not set
    these. UTC pins every session-tz-sensitive expression
    (unix_timestamp/unix_micros on NTZ, LTZ<->NTZ casts in the events
    loader) to the values DuckDB computes; nanosAsLong lets the events
    parquet (TIMESTAMP_NANOS) load at all.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NOTE: spark.sql.codegen.cache.maxEntries (see session.py) is a
    # STATIC conf — it cannot be pinned here on a live session; sessions
    # built outside get_spark() keep the 100-entry default (a perf,
    # never a correctness, difference).


def query(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    doc: str = "",
    portable_twin: str | None = None,
):
    """Decorator registering a catalog query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        QUERIES[name] = QuerySpec(
            name, wrapped, oracle, tags, doc or (fn.__doc__ or ""), portable_twin
        )
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 entries of
# ``queries()``. Round-17 rotation (ADVICE r16 #1), computed from
# CORRECTNESS_r*.json (tests/test_registry_window.py recomputes the
# same debt and fails on drift):
# (a) 0 r16 births (the freeze held a fifth round);
# (b) the 3 canaries deferred from r16 — q_null_safe_join,
#     q_variant_shred, q_wiredump_roundtrip (verdict r6) — cross the
#     10-round staleness horizon this round: MANDATORY. The wiredump
#     writers now order segment contents by task partition id, which
#     changes no plan;
# (c) the 43-row r7-verdict tier (its last compliant seat is r17),
#     alphabetical; it carries the re-cert for
#     q_stream_wiredump_sink_replay's r16 plan change (8 sink tasks);
# (d) 4 spare seats, all plan-change re-certs: q_codec_dlq_split
#     (verdict r14) — the dead-letter pipeline now runs the one spine
#     body, a single mapInPandas, instead of a lenient decode UDF, a
#     transform map and an encode UDF — then q_pair_index_snapshot,
#     q_pair_index_delta (verdicts r11) and q_cogroup_conversion_lag
#     (verdict r16), whose narrow CPU lanes now carry an explicit-count
#     exchange (round-robin over the md5 shingle-type dictionary after
#     its distinct, a hash on user_id under both cogroup sides).
# 3 + 43 + 4 = 50 exactly. Every seat has a DuckDB oracle: a re-cert
# for a rows-only query seats its ``portable_twin`` instead.
PRIORITY_ORDER: tuple[str, ...] = (
    # (b) the deferred r6 canaries
    "q_null_safe_join",
    "q_variant_shred",
    "q_wiredump_roundtrip",
    # (c) the r7-verdict tier
    "q02_revenue_by_nation",
    "q_activity_bitmap",
    "q_arrow_grouped_stats",
    "q_basket_part_pairs",
    "q_benford_digit_audit",
    "q_calendar_gap_fill",
    "q_dedup_keep_best",
    "q_dedup_keep_first",
    "q_event_paths_topk",
    "q_feature_hashing",
    "q_fuzzy_match_levenshtein",
    "q_gdpr_delete_propagation",
    "q_group_by_all",
    "q_histogram_2d",
    "q_jaccard_neighbors",
    "q_join_hints",
    "q_kcore_decomposition",
    "q_knn_cosine_bruteforce",
    "q_lorenz_curve",
    "q_markov_transitions",
    "q_minmax_scaling",
    "q_mom_growth",
    "q_ngram_novelty",
    "q_order_total_reconciliation",
    "q_parameterized_sql",
    "q_percent_rank_cume",
    "q_rank_normalize_embeddings",
    "q_rfm_segmentation",
    "q_run_length_islands",
    "q_scd1_upsert",
    "q_seasonal_weekday_deviation",
    "q_source_overlap_matrix",
    "q_source_quota",
    "q_sql_udf",
    "q_stream_hll_merge_replay",
    "q_stream_wiredump_sink_replay",
    "q_target_encoding",
    "q_text_roundtrip",
    "q_time_weighted_average",
    "q_token_budget_allocation",
    "q_udaf_grouped_agg",
    "q_weighted_median",
    "q_window_count_distinct",
    # (d) plan-change re-certs
    "q_codec_dlq_split",
    "q_pair_index_snapshot",
    "q_pair_index_delta",
    "q_cogroup_conversion_lag",
)
# Queries declared for the first time in the CURRENT round (no driver
# verdict yet, by construction — they were born after the last
# CORRECTNESS file). tests/test_registry_window.py asserts every name
# here is genuinely verdict-less and that the NEXT round's mandatory
# window (these births + rows going stale) still fits in 50 slots.
# Reset to () at each round open, after moving the previous round's
# births into PRIORITY_ORDER.
NEW_THIS_ROUND: tuple[str, ...] = ()
# r18 window plan (compute, don't trust): lead with any r17 births,
# then the whole 37-row r8-verdict tier (its last compliant seat is r18,
# MANDATORY). That tier carries the re-certs for the two r8-verdict
# rows whose plans change in r17 with the md5 lane's explicit width,
# q_dedup_incremental_snapshot and q_lsh_recall_audit. Then any later
# plan-change re-certs, then the oldest r9 rows. Later plan changes so
# far: q_bucketed_join (a merge join hint replaces its broadcast-
# threshold conf and the eager localCheckpoint that ran under it).
#
# Session conf books no seats (the q_audio_zero_crossing "runtime conf
# books no seat" precedent from r15): it changes no logical or static
# physical plan. Since r17 no query sets session conf at build time;
# the replay state-provider default and the timeout replay's state
# partition width are set and restored around the run inside the call.
# A width that a plan declares (repartition(n, key)) is a plan change
# and DOES book a seat.
# tests/test_registry_window.py fails if a stale row is missed.


def _ordered_specs() -> list[QuerySpec]:
    missing = [n for n in PRIORITY_ORDER if n not in QUERIES]
    if missing:
        raise ValueError(f"PRIORITY_ORDER names not registered: {missing}")
    prioritized = set(PRIORITY_ORDER)
    rest = [spec for name, spec in QUERIES.items() if name not in prioritized]
    return [QUERIES[n] for n in PRIORITY_ORDER] + rest


def queries_dict() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.spark_fn for spec in _ordered_specs()}


def oracle_sql_dict() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _ordered_specs() if spec.oracle is not None}
