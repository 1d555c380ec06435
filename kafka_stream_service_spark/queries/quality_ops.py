"""Data-quality auditing and corpus-engineering operators, batch 2.

The reference pipeline trusts its input (strict decode, crash on bad
frames — StreamsApplication.java:193); a 100 TB corpus build cannot.
This module adds the audit surface a production training-data pipeline
runs before and after every ingest: single-pass column-constraint
profiling (the Deequ recipe), referential-integrity sweeps over the
warehouse FK graph, BPE-style pair counting for tokenizer training,
span-level repeated-n-gram detection (the Lee et al. "Deduplicating
Training Data" signal, re-expressed as positional-gram counting),
key-skew profiling for shuffle planning, event-transition matrices,
and incremental materialized-aggregate maintenance.

Every query carries an exact DuckDB oracle: all aggregates are integer
counts, exact DECIMAL sums, or single double divisions of identical
operands, so hashes match bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ranks import cpu_fanout
from ..plans.barrier import barrier
from ..tables import tables
from ._util import dec, sorted_fold
from .registry import query


@query(
    "q_data_quality_report",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS row_count,
             COUNT(*) - COUNT(o_custkey) AS custkey_nulls,
             COUNT(DISTINCT o_custkey) AS custkey_distinct,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS orderkey_dup_rows,
             COUNT(*) - COUNT(o_totalprice) AS totalprice_nulls,
             CAST(MIN(o_totalprice) AS DOUBLE) AS totalprice_min,
             CAST(MAX(o_totalprice) AS DOUBLE) AS totalprice_max,
             COUNT(*) FILTER (WHERE o_totalprice <= 0) AS totalprice_nonpositive,
             COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS orderstatus_invalid,
             COUNT(DISTINCT o_orderpriority) AS orderpriority_distinct,
             COUNT(*) FILTER (WHERE o_orderdate < DATE '1992-01-01'
                                 OR o_orderdate > DATE '1998-12-31') AS orderdate_out_of_range
      FROM orders
    )
    SELECT 'row_count' AS metric, CAST(row_count AS DOUBLE) AS value FROM m
    UNION ALL SELECT 'o_custkey_null_count', CAST(custkey_nulls AS DOUBLE) FROM m
    UNION ALL SELECT 'o_custkey_distinct_count', CAST(custkey_distinct AS DOUBLE) FROM m
    UNION ALL SELECT 'o_orderkey_duplicate_rows', CAST(orderkey_dup_rows AS DOUBLE) FROM m
    UNION ALL SELECT 'o_totalprice_null_count', CAST(totalprice_nulls AS DOUBLE) FROM m
    UNION ALL SELECT 'o_totalprice_min', totalprice_min FROM m
    UNION ALL SELECT 'o_totalprice_max', totalprice_max FROM m
    UNION ALL SELECT 'o_totalprice_nonpositive', CAST(totalprice_nonpositive AS DOUBLE) FROM m
    UNION ALL SELECT 'o_orderstatus_invalid', CAST(orderstatus_invalid AS DOUBLE) FROM m
    UNION ALL SELECT 'o_orderpriority_distinct_count', CAST(orderpriority_distinct AS DOUBLE) FROM m
    UNION ALL SELECT 'o_orderdate_out_of_range', CAST(orderdate_out_of_range AS DOUBLE) FROM m
    """,
    tags=("quality", "audit", "llm-data"),
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass constraint suite over ``orders`` (the Deequ recipe):
    completeness (null counts), uniqueness (duplicate key rows),
    distinctness, range bounds, and domain-membership violations — all
    computed in ONE aggregation over one scan, then unpivoted to a long
    (metric, value) report frame.

    Scale shape: every metric is a partial-aggregatable expression
    (count / conditional count / min / max / distinct), so the whole
    suite is one map-side-combined agg to a single row regardless of
    input size — adding metrics widens the row, never adds a pass.
    ``count(distinct)`` over two columns expands to one extra shuffle;
    at 100 TB swap exact distinct for HLL (`approx_count_distinct`) per
    audit policy. The stack() unpivot runs on the 1-row result.
    """
    o = tables(spark, sf_dir)["orders"]
    m = o.agg(
        F.count(F.lit(1)).alias("row_count"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("custkey_nulls"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orderkey_dup_rows"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("totalprice_nulls"),
        F.min("o_totalprice").cast("double").alias("totalprice_min"),
        F.max("o_totalprice").cast("double").alias("totalprice_max"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("totalprice_nonpositive"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("orderstatus_invalid"),
        F.countDistinct("o_orderpriority").alias("orderpriority_distinct"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date")),
                1,
            )
        ).alias("orderdate_out_of_range"),
    )
    return m.selectExpr(
        """stack(11,
            'row_count', cast(row_count as double),
            'o_custkey_null_count', cast(custkey_nulls as double),
            'o_custkey_distinct_count', cast(custkey_distinct as double),
            'o_orderkey_duplicate_rows', cast(orderkey_dup_rows as double),
            'o_totalprice_null_count', cast(totalprice_nulls as double),
            'o_totalprice_min', totalprice_min,
            'o_totalprice_max', totalprice_max,
            'o_totalprice_nonpositive', cast(totalprice_nonpositive as double),
            'o_orderstatus_invalid', cast(orderstatus_invalid as double),
            'o_orderpriority_distinct_count', cast(orderpriority_distinct as double),
            'o_orderdate_out_of_range', cast(orderdate_out_of_range as double)
        ) as (metric, value)"""
    )


_FK_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


def _fk_edge_sql(edge: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
    SELECT '{edge}' AS edge,
           (SELECT COUNT(*) FROM {child}) AS child_rows,
           (SELECT COUNT(DISTINCT {ckey}) FROM {child}) AS child_keys,
           (SELECT COUNT(DISTINCT {pkey}) FROM {parent}) AS parent_keys,
           (SELECT COUNT(*) FROM {child} WHERE {ckey} NOT IN
              (SELECT {pkey} FROM {parent} WHERE {pkey} IS NOT NULL)) AS orphan_rows,
           (SELECT COUNT(*) FROM {parent} WHERE {pkey} NOT IN
              (SELECT {ckey} FROM {child} WHERE {ckey} IS NOT NULL)) AS unreferenced_parents
    """


@query(
    "q_referential_integrity",
    oracle=" UNION ALL ".join(_fk_edge_sql(*e) for e in _FK_EDGES),
    tags=("quality", "audit", "join"),
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the warehouse FK graph: for each
    child->parent edge, count orphan child rows (FK with no parent — a
    broken ingest) and unreferenced parent keys (dead dimension rows —
    retention/debloat candidates). TPC-H data is clean, so orphan_rows
    is 0 on every edge while unreferenced_parents is genuinely non-zero
    (a third of customers have no orders).

    Scale shape: per edge, one distinct-count agg per side plus two
    anti-joins on the key — all partial-aggregated, key-partitioned
    shuffles; the five 1-row edge results are crossJoined (each side is
    a single row — trivially broadcast) and unioned. Nothing data-scale
    ever reaches the driver; at 100 TB each edge is an independent DAG
    branch and the whole audit is one job.
    """
    t = tables(spark, sf_dir)
    frames = []
    for edge, child, ckey, parent, pkey in _FK_EDGES:
        c, p = t[child], t[parent]
        stats = c.agg(
            F.count(F.lit(1)).alias("child_rows"),
            F.countDistinct(ckey).alias("child_keys"),
        ).crossJoin(p.agg(F.countDistinct(pkey).alias("parent_keys")))
        # NULL keys are excluded on BOTH probe sides: the oracle's NOT IN
        # evaluates NULL NOT IN (...) to NULL (row excluded), while a bare
        # left_anti would count a NULL FK as an orphan — the engines would
        # diverge on exactly the dirty data an RI audit targets (r5 ADVICE).
        # NULL-key rows are already counted by q_data_quality_report.
        orphans = (
            c.select(F.col(ckey).alias("k"))
            .filter(F.col("k").isNotNull())
            .join(p.select(F.col(pkey).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("orphan_rows"))
        )
        unref = (
            p.select(F.col(pkey).alias("k"))
            .filter(F.col("k").isNotNull())
            .join(c.select(F.col(ckey).alias("k")), "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("unreferenced_parents"))
        )
        frames.append(
            stats.crossJoin(orphans)
            .crossJoin(unref)
            .select(
                F.lit(edge).alias("edge"),
                "child_rows",
                "child_keys",
                "parent_keys",
                "orphan_rows",
                "unreferenced_parents",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@query(
    "q_bpe_merge_candidates",
    oracle="""
    WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    wc AS (SELECT word, COUNT(*) AS cnt FROM words WHERE length(word) >= 2 GROUP BY word),
    pairs AS (
      SELECT substring(word, CAST(i AS INT), 2) AS pair, cnt
      FROM wc, unnest(range(1, length(word))) AS u(i)
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair ASC LIMIT 20
    """,
    tags=("text", "tokenizer", "llm-data"),
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training step (the Sennrich et al. recipe):
    count adjacent symbol pairs across the corpus, weighted by word
    frequency, and emit the top-20 merge candidates (deterministic
    tie-break by pair). Iterating this step — apply the winning merge,
    recount — is exactly how production tokenizers are trained; the
    expensive distributed piece is this count, and it re-runs unchanged
    per iteration.

    Scale shape: the word-frequency pre-aggregation is the whole trick —
    pair counting runs over DISTINCT words (vocabulary-sized, ~millions)
    instead of corpus tokens (trillions), a 10^5-plus reduction before
    the pair explode. Both aggs are map-side combined; the final top-20
    is a TakeOrdered (no global sort materialization).
    """
    d = tables(spark, sf_dir)["documents"]
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.length("word") >= 2
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(20)
    )


@query(
    "q_repeated_ngram_spans",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id,
             w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2]
               || ' ' || w[CAST(i AS INT)+3] || ' ' || w[CAST(i AS INT)+4] AS gram
      FROM t, unnest(range(1, len(w) - 3)) AS u(i)
      WHERE len(w) >= 5
    ),
    rep AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    per_doc AS (SELECT doc_id, COUNT(*) AS total_spans FROM g GROUP BY doc_id),
    hits AS (SELECT doc_id, COUNT(*) AS repeated_spans FROM g JOIN rep USING (gram) GROUP BY doc_id)
    SELECT p.doc_id, p.total_spans, h.repeated_spans,
           CAST(h.repeated_spans AS DOUBLE) / CAST(p.total_spans AS DOUBLE) AS repeat_ratio
    FROM per_doc p JOIN hits h USING (doc_id)
    """,
    tags=("text", "dedup", "llm-data"),
)
def q_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level repeated-n-gram detection — the signal behind
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"), re-expressed as positional
    word-5-gram counting: a span is "repeated" if the same 5-gram occurs
    in >= 2 distinct documents; per document, report how much of it is
    covered by cross-document repeated spans. High repeat_ratio docs are
    boilerplate/template candidates for span-level (not doc-level)
    cleaning.

    Scale shape: positional grams explode ~|tokens| rows per doc, but
    they flow straight into map-side-combined aggs — no doc-pair term
    anywhere, unlike a suffix-array build. Hot boilerplate grams skew
    the gram partitions; the per-(gram, doc) pre-aggregation bounds any
    gram's partition by its distinct-doc count before the window runs.
    """
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    t = d.select("doc_id", F.split("text", " ").alias("w")).filter(F.size("w") >= 5)
    g = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 4), i -> "
                "concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2], w[i+3]))"
            )
        ).alias("gram"),
    )
    # ONE explode feeding everything: per-(gram, doc) occurrence counts,
    # then a gram-partitioned window supplies each row its gram's
    # distinct-doc count (rows are unique per (gram, doc), so a plain
    # window count IS countDistinct), then one doc-keyed agg. The naive
    # form (gram-DF agg + join back + two per-doc aggs) re-executes the
    # explode once per consumer: measured 2.2 s -> ~1.2 s at sf0.1.
    gd = g.groupBy("gram", "doc_id").agg(F.count(F.lit(1)).alias("n_occ"))
    marked = gd.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("gram")))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("total_spans"),
            F.sum(
                F.when(F.col("nd") >= 2, F.col("n_occ")).otherwise(F.lit(0))
            ).alias("repeated_spans"),
        )
        .filter(F.col("repeated_spans") > 0)
        .select(
            "doc_id",
            "total_spans",
            "repeated_spans",
            (
                F.col("repeated_spans").cast("double")
                / F.col("total_spans").cast("double")
            ).alias("repeat_ratio"),
        )
    )


@query(
    "q_key_skew_profile",
    oracle="""
    WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey),
    tot AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT c.l_suppkey, c.cnt,
           CAST(c.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE) AS share
    FROM c, tot
    ORDER BY c.cnt DESC, c.l_suppkey ASC LIMIT 10
    """,
    tags=("quality", "skew", "profiling"),
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profiler: per-key row counts for the
    hottest 10 keys plus their share of the table. This is the
    diagnostic run BEFORE choosing between a plain shuffle join, AQE
    skew splitting, and `operators/salted.py` — the share column tells
    you directly whether one key's partition exceeds executor memory at
    target scale.

    Scale shape: one map-side-combined count per key, one 1-row total
    (crossJoined — broadcast of a single row), top-10 via TakeOrdered.
    Deterministic tie-break (cnt desc, key asc) keeps the result set
    stable under ties, so the oracle hash is exact.
    """
    li = tables(spark, sf_dir)["lineitem"]
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    total = li.agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("l_suppkey").asc())
        .limit(10)
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (SELECT prev_type, SUM(cnt) AS prev_total FROM trans GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.cnt,
           CAST(t.cnt AS DOUBLE) / CAST(tot.prev_total AS DOUBLE) AS prob
    FROM trans t JOIN tot USING (prev_type)
    """,
    tags=("events", "window", "markov"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag() within (user, event-time) order, count each
    (prev -> next) pair, and normalize rows to transition probabilities.
    The sessionized variant of this powers funnel discovery and
    next-action models.

    Scale shape: the lag window shuffles once on user_id (bounded state:
    one previous row per partition stream); the transition counts are a
    5x5-bounded agg, so the normalization join is trivially broadcast.
    Deterministic ordering (ts, event_id tie-break) makes lag() — and
    therefore the whole matrix — exactly reproducible across engines.
    """
    e = tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = trans.groupBy("prev_type").agg(F.sum("cnt").alias("prev_total"))
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "cnt",
        (F.col("cnt").cast("double") / F.col("prev_total").cast("double")).alias("prob"),
    )


@query(
    "q_incremental_cagg_merge",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "incremental", "lakehouse"),
)
def q_incremental_cagg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the continuous
    aggregate (hourly counts + exact decimal sums per event type) is
    computed as base-partition partials PLUS delta-partition partials,
    merged by re-aggregating the mergeable state (count-sum algebra) —
    never by recomputing the base. The oracle IS the full recompute, so
    the driver hash proves partial-merge == recompute exactly.

    This is the lakehouse pattern for keeping a 100 TB rollup fresh:
    only the newly-landed partition (here ts >= 2024-01-24) is scanned
    per refresh; the base partials are read back from the materialized
    store. Decimal sums make the merge exact regardless of merge order —
    the same property that makes the partials safely re-mergeable
    across arbitrarily many refresh cycles.

    Scale shape: two independent partial aggs (each map-side combined,
    pruned to its partition range — the delta scan reads only new
    files), one union, one re-agg on the same (hour, type) key. AQE
    coalesces the tiny merged stage.
    """
    e = tables(spark, sf_dir)["events"]
    split = F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("sum_dec"),
        )

    base = partial(e.filter(F.col("ts") < split))
    delta = partial(e.filter(F.col("ts") >= split))
    return (
        base.unionByName(delta)
        .groupBy("window_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").cast("double").alias("sum_value"),
        )
    )


@query(
    "q_embedding_outliers",
    oracle="""
    WITH quant AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
    ),
    q8 AS (
      SELECT vec_id, label, list_transform(v, x -> CAST(round(x / scale) AS INT)) AS qv
      FROM quant
    ),
    pos AS (
      SELECT label, vec_id, u.i AS pos, CAST(qv[CAST(u.i AS INT)] AS BIGINT) AS val
      FROM q8, unnest(range(1, len(qv) + 1)) AS u(i)
    ),
    cent AS (
      SELECT label, pos, SUM(val) AS csum, COUNT(*) AS n
      FROM pos GROUP BY label, pos
    ),
    dist AS (
      SELECT p.label, p.vec_id,
             SUM((p.val * c.n - c.csum) * (p.val * c.n - c.csum)) AS dist_scaled
      FROM pos p JOIN cent c USING (label, pos)
      GROUP BY p.label, p.vec_id
    )
    SELECT label, vec_id, CAST(dist_scaled AS BIGINT) AS dist_scaled, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                   ORDER BY dist_scaled DESC, vec_id) AS rank
      FROM dist
    ) WHERE rank <= 5
    """,
    tags=("similarity", "curation", "llm-data"),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection for corpus curation (the
    centroid-distance filter from SemDeDup-style pipelines): per label,
    find the 5 vectors farthest from their own class centroid. Run in
    int8-quantized space with SCALED integer distances — comparing
    (qv*n - sum)^2 instead of (qv - sum/n)^2 multiplies every distance
    by n^2 (rank-invariant within a label) and keeps the whole query in
    exact integer arithmetic, so the oracle hash has no float surface.

    Scale shape: centroids are one posexplode + map-side-combined agg
    (label x dim rows — tiny), collected per label into arrays and
    broadcast back; per-vector distance is then a map-side zip_with.
    The final top-5 window partitions by label. The corpus never
    self-joins and never moves: one explode-agg shuffle + one broadcast.
    """
    from .corpus_ops import _quantized

    q8 = _quantized(cpu_fanout(tables(spark, sf_dir)["embeddings"])).select(
        "vec_id", "label", "qv"
    )
    pos = q8.select(
        "label", "vec_id", F.posexplode("qv").alias("pos0", "val")
    ).select("label", "vec_id", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("bigint").alias("val"))
    cent = pos.groupBy("label", "pos").agg(
        F.sum("val").alias("csum"),
        F.count(F.lit(1)).alias("n"),
        F.count("val").alias("n_nonnull"),
    )
    # Uniform-dimension guard (r5 ADVICE): the scaled-integer distance
    # (qv*n - csum)^2 is rank-invariant only if n is THE SAME at every
    # position of a label — ragged vectors (or NULL elements, which
    # drop out of csum but not n) would silently diverge from the
    # oracle's per-position n. Fail loudly instead: raise if any
    # (label,pos) count differs from the label max or contains NULLs.
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "csum"))), lambda s: s["csum"]
        ).alias("csums"),
        F.max("n").alias("n_max"),
        F.min("n").alias("n_min"),
        F.min("n_nonnull").alias("n_nonnull_min"),
    ).select(
        "label",
        "csums",
        F.when(
            (F.col("n_min") == F.col("n_max"))
            & (F.col("n_nonnull_min") == F.col("n_max")),
            F.col("n_max"),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("q_embedding_outliers: ragged or null-element "
                          "embeddings within label "),
                    F.col("label").cast("string"),
                )
            )
        )
        .alias("n"),
    )
    dist = q8.join(F.broadcast(cent_arr), "label").select(
        "label",
        "vec_id",
        F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.col("csums"),
                lambda q, s: (q.cast("bigint") * F.col("n") - s)
                * (q.cast("bigint") * F.col("n") - s),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dist_scaled"),
    )
    w = Window.partitionBy("label").orderBy(F.col("dist_scaled").desc(), F.col("vec_id").asc())
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("label", "vec_id", "dist_scaled", "rank")
    )


_LEN_BUCKET_SQL = (
    "CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32 WHEN n <= 64 THEN 64 "
    "WHEN n <= 128 THEN 128 ELSE 256 END"
)


@query(
    "q_length_bucketing",
    oracle=f"""
    WITH t AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
    b AS (SELECT n, {_LEN_BUCKET_SQL} AS bucket FROM t)
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           CAST(SUM(bucket - n) AS BIGINT) AS pad_tokens,
           CAST(SUM(bucket - n) AS DOUBLE) / CAST(bucket * COUNT(*) AS DOUBLE) AS pad_frac
    FROM b GROUP BY bucket
    """,
    tags=("training", "packing", "llm-data"),
)
def q_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign each document to a fixed
    power-of-two token-length bucket and account the padding waste of
    batching within buckets (pad to bucket size) — the decision input
    for inference/training batch shaping, complementing
    `q_pack_sequences` (which eliminates padding by concatenation).
    pad_frac per bucket is the fraction of computed tokens that would be
    padding; compare against the single-bucket strategy's waste to size
    the bucket ladder.

    Scale shape: pure map-side bucket assignment + one combined agg to
    <= 5 rows. The bucket ladder is a literal CASE, not a float log2 —
    bit-identical across engines by construction.
    """
    d = tables(spark, sf_dir)["documents"]
    t = d.select(F.size(F.split("text", " ")).alias("n"))
    b = t.select("n", F.expr(_LEN_BUCKET_SQL).alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(F.col("bucket") - F.col("n")).cast("bigint").alias("pad_tokens"),
        (
            F.sum(F.col("bucket") - F.col("n")).cast("double")
            / (F.col("bucket") * F.count(F.lit(1))).cast("double")
        ).alias("pad_frac"),
    )


@query(
    "q_vocab_coverage",
    oracle="""
    WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    wc AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
    ranked AS (
      SELECT word, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, word
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM wc
    ),
    tot AS (SELECT SUM(cnt) AS total FROM wc)
    SELECT t.pct AS target_pct,
           MIN(r.rank) AS vocab_size,
           CAST(MIN(r.cum) AS BIGINT) AS covered_tokens,
           CAST(MIN(r.cum) AS DOUBLE) / CAST(MIN(tot.total) AS DOUBLE) AS coverage
    FROM ranked r, tot, (VALUES (50), (75), (90), (95), (99)) AS t(pct)
    WHERE r.cum * 100 >= tot.total * t.pct
    GROUP BY t.pct
    """,
    tags=("text", "tokenizer", "llm-data"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size planning for tokenizer design: the smallest
    top-frequency vocabulary covering 50/75/90/95/99% of corpus token
    occurrences. The coverage threshold compares cum*100 >= total*pct in
    INTEGER arithmetic — no 0.9-is-not-representable float boundary can
    flip a row between engines.

    Scale shape: the corpus-sized stage is one map-side-combined word
    count; everything after runs over the VOCABULARY (millions of rows,
    not trillions of tokens) — and with NO global-order window: ranking
    is two-level. Words with equal count form a band; within a band the
    row_number window partitions BY the count (parallel across bands),
    and the tiny per-band totals frame (one row per distinct count)
    carries the prefix sums. Because every word in a band has the same
    count, the running total at in-band rank r is prior_sum + r*cnt —
    exact, no per-row cumsum anywhere. The same decomposition holds at
    any scale; only the band-totals frame (bounded by distinct count
    values) sees a single-partition window. Target rows broadcast;
    qualifying rows collapse via MIN (cum is monotone in rank, so
    MIN(cum) is exactly the first qualifying row's cum).
    """
    d = tables(spark, sf_dir)["documents"]
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    in_band = F.row_number().over(Window.partitionBy("cnt").orderBy(F.col("word").asc()))
    banded = wc.select("word", "cnt", in_band.alias("rb"))
    bands = wc.groupBy("cnt").agg(
        F.count(F.lit(1)).alias("n_words"), F.sum("cnt").alias("band_sum")
    )
    bw = Window.orderBy(F.col("cnt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    band_prefix = bands.select(
        "cnt",
        (F.sum("n_words").over(bw) - F.col("n_words")).alias("prior_words"),
        (F.sum("band_sum").over(bw) - F.col("band_sum")).alias("prior_sum"),
    )
    ranked = banded.join(F.broadcast(band_prefix), "cnt").select(
        "cnt",
        (F.col("prior_words") + F.col("rb")).alias("rank"),
        (F.col("prior_sum") + F.col("rb") * F.col("cnt")).alias("cum"),
    )
    total = wc.agg(F.sum("cnt").alias("total"))
    # JVM-side literal frame: a local-list createDataFrame pays a
    # Python serialization round per job (~5 s measured, round 6)
    targets = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (50, 75, 90, 95, 99)])).alias("pct")
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(targets))
        .filter(F.col("cum") * 100 >= F.col("total") * F.col("pct"))
        .groupBy(F.col("pct").alias("target_pct"))
        .agg(
            F.min("rank").alias("vocab_size"),
            F.min("cum").cast("bigint").alias("covered_tokens"),
            (F.min("cum").cast("double") / F.min("total").cast("double")).alias("coverage"),
        )
    )


@query(
    "q_winsorized_stats",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_disc(l_extendedprice, 0.05) AS lo,
             quantile_disc(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(b.lo AS DOUBLE) AS p05,
           CAST(b.hi AS DOUBLE) AS p95,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE l.l_extendedprice < b.lo) AS clipped_low,
           COUNT(*) FILTER (WHERE l.l_extendedprice > b.hi) AS clipped_high,
           CAST(SUM(CAST(least(greatest(l.l_extendedprice, b.lo), b.hi)
                    AS DECIMAL(12,2))) AS DOUBLE) AS winsorized_sum
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.lo, b.hi
    """,
    tags=("quality", "robust-stats", "aggregation"),
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) aggregation — the robust-statistics
    recipe for metrics that must not be dragged by tail rows: clip each
    group's values at its own exact 5th/95th DISCRETE percentiles, then
    aggregate. percentile_disc picks actual data values (identical
    definition in Spark and DuckDB, so the bounds — and therefore every
    clip decision — are bit-exact), and the clipped values stay
    2-decimal money, so the winsorized sum runs in exact DECIMAL.

    Scale shape (r14 replan): the bounds come from the ranked-histogram
    operator (operators/ranks.group_exact_percentiles) — the old
    ``percentile_disc`` GROUP BY buffered each group's every value in
    one reducer (3 groups = a third of the corpus per task at 100 TB);
    now the corpus collapses map-side to its per-(group, value)
    histogram and each bound is the value whose in-group rank interval
    contains ceil(p*n) — identical by definition, with per-task state
    bounded by the 2-dp price DOMAIN, never the corpus. The tiny bounds
    table broadcasts back onto the fact stream, and clipping is
    map-side.
    """
    from ..operators.ranks import group_exact_percentiles

    li = tables(spark, sf_dir)["lineitem"]
    bounds = group_exact_percentiles(
        li.select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice", disc=(0.05, 0.95),
    ).select(
        "l_returnflag",
        # money values are 2-decimal: the double<->decimal round trip is
        # exact, and keeping lo/hi DECIMAL keeps every clip comparison
        # and the winsorized sum in exact decimal arithmetic
        F.col("disc_05").cast("decimal(12,2)").alias("lo"),
        F.col("disc_95").cast("decimal(12,2)").alias("hi"),
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "lo",
        "hi",
        dec(F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))).alias(
            "wval"
        ),
    )
    return clipped.groupBy("l_returnflag", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_extendedprice") < F.col("lo"), 1)).alias("clipped_low"),
        F.count(F.when(F.col("l_extendedprice") > F.col("hi"), 1)).alias("clipped_high"),
        F.sum("wval").cast("double").alias("winsorized_sum"),
    ).select(
        "l_returnflag",
        F.col("lo").cast("double").alias("p05"),
        F.col("hi").cast("double").alias("p95"),
        "n_rows",
        "clipped_low",
        "clipped_high",
        "winsorized_sum",
    )


@query(
    "q_jaccard_prefix_join",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT DISTINCT doc_id,
             w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2] AS tok
      FROM t, unnest(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.inter,
           sa.n AS size_a, sb.n AS size_b,
           CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) AS jaccard
    FROM pair p
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE 10 * p.inter >= 7 * (sa.n + sb.n - p.inter)
    """,
    tags=("dedup", "similarity", "llm-data"),
)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/Chaudhuri recipe): all document pairs with trigram-set Jaccard
    >= 0.7, found WITHOUT an all-pairs comparison. Tokens are globally
    ordered by (document frequency asc, token asc); a pair at Jaccard
    >= t must share a token within each side's first
    n - ceil(t*n) + 1 tokens, so only prefix-token collisions become
    candidates, and candidates are then verified exactly.

    This is the scalable EXACT tier of the near-dup stack: MinHash+LSH
    (operators/dedup.py) approximates with recall bounds; this operator
    proves the same >= t decision exactly, with the prefix filter — not
    a quadratic scan — bounding the candidate set. The oracle computes
    the naive all-shared-token join, so a prefix that is even one token
    too short (a completeness bug) loses a pair and flips the hash.
    Every threshold decision is INTEGER (ceil(7n/10) = (7n+9) div 10;
    accept iff 10*inter >= 7*union) — no float boundary can disagree.

    Scale shape: rare-first ordering makes prefix collisions rare by
    construction (the frequent tokens that would explode the self-join
    are exactly the ones pushed OUT of prefixes); verification work is
    sum(|A|+|B|) over surviving candidates. Shuffles: distinct, DF agg,
    DF join-back, per-doc position window, prefix self-join, two
    verification joins — each key-partitioned, nothing quadratic.
    """
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    t = d.select("doc_id", F.split("text", " ").alias("w")).filter(F.size("w") >= 3)
    tok = barrier(
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2), "
                    "i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
                )
            ).alias("tok"),
        )
        .distinct(),
        "reuse",
    )
    sz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    df = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("tok").asc())
    )
    ordered = tok.join(df, "tok").select("doc_id", "tok", pos.alias("pos"))
    prefix_len = F.col("n") - F.expr("(7 * n + 9) div 10") + 1
    pref = (
        ordered.join(sz, "doc_id")
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "tok", "pos", "n")
    )
    # Candidate generation keeps the matching token's positions so the
    # POSITIONAL filter (PPJoin's second pruning rule, round-7) can run
    # before verification. For a pair matched on token w at (pa, pb):
    # any shared token is w itself, precedes w in the global order (at
    # most min(pa-1, pb-1) of those exist on the smaller side), or
    # follows w (at most min(na-pa, nb-pb)). So
    #   overlap <= 1 + min(pa-1, pb-1) + min(na-pa, nb-pb)
    # for EVERY matching prefix token — the min over matches is a
    # lossless upper bound. Jaccard >= 7/10 needs
    # 17*overlap >= 7*(na+nb), i.e. overlap >= ceil(7*(na+nb)/17).
    matches = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            (
                1
                + F.least(F.col("a.pos") - 1, F.col("b.pos") - 1)
                + F.least(F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos"))
            ).alias("ubound"),
        )
    )
    cand = (
        matches.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("ubound").alias("ubound"))
        # PPJoin length filter: Jaccard >= 7/10 forces 10*|B| >= 7*|A|
        # in the best case inter=|B| (B subset of A), i.e.
        # 10*min >= 7*max — incompatible sizes never reach verification
        .filter(10 * F.least("na", "nb") >= 7 * F.greatest("na", "nb"))
        # positional filter: best possible overlap must reach the
        # integer-exact equivalent-overlap threshold
        .filter(F.col("ubound") >= F.expr("(7 * (na + nb) + 16) div 17"))
        .select("doc_a", "doc_b")
    )
    ca = cand.join(tok.select(F.col("doc_id").alias("doc_a"), "tok"), "doc_a")
    inter = (
        ca.join(tok.select(F.col("doc_id").alias("doc_b"), "tok"), ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("size_a")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("size_b")), "doc_b")
        .filter(
            10 * F.col("inter") >= 7 * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        "inter",
        "size_a",
        "size_b",
        (
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


@query(
    "q_corpus_drift_kl",
    oracle="""
    WITH tok AS (
      SELECT lang, doc_id % 2 AS half, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    c AS (
      SELECT lang, token,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
      FROM tok GROUP BY lang, token
    ),
    tot AS (
      SELECT lang, CAST(SUM(ca) AS BIGINT) AS ta, CAST(SUM(cb) AS BIGINT) AS tb,
             COUNT(*) AS v
      FROM c GROUP BY lang
    ),
    terms AS (
      SELECT c.lang, c.token,
             (CAST(c.ca + 1 AS DOUBLE) / CAST(t.ta + t.v AS DOUBLE))
               * ln((CAST(c.ca + 1 AS DOUBLE) / CAST(t.ta + t.v AS DOUBLE))
                    / (CAST(c.cb + 1 AS DOUBLE) / CAST(t.tb + t.v AS DOUBLE))) AS term
      FROM c JOIN tot t USING (lang)
    ),
    ranked AS (
      SELECT lang, token, term,
             (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY token) - 1) // 256 AS chunk
      FROM terms
    ),
    chunks AS (
      SELECT lang, chunk, list_sum(list(term ORDER BY token)) AS chunk_sum
      FROM ranked GROUP BY lang, chunk
    )
    SELECT k.lang, t.v AS vocab, t.ta AS tokens_a, t.tb AS tokens_b,
           round(list_sum(list(k.chunk_sum ORDER BY k.chunk)), 6) AS kl_ab
    FROM (SELECT lang, chunk, chunk_sum FROM chunks) k
    JOIN tot t USING (lang)
    GROUP BY k.lang, t.v, t.ta, t.tb
    """,
    tags=("quality", "drift", "llm-data"),
)
def q_corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus drift monitor: per-language KL divergence between
    the token distributions of two deterministic corpus snapshots (the
    doc_id-parity halves standing in for yesterday's crawl vs today's).
    Laplace add-1 smoothing over the union vocabulary keeps every term
    finite; a drifting source shows up as a KL jump long before model
    metrics move — the standard pre-training data health check.

    Determinism: the only float surface is the per-token
    p*ln(p/q) term (identical single divisions on identical integers,
    same ln), summed in a PINNED order via the same two-level chunked
    fold as q_text_unigram_logprob — tokens ranked per lang, 256-token
    chunks folded in token order, chunk partials folded in chunk order,
    6-digit round. Identical fold tree on both engines.

    Scale shape: one explode into a map-side-combined (lang, token,
    conditional-count) agg — the halves never join, they are columns of
    one pass; totals are a lang-keyed second agg broadcast back. The
    chunk machinery bounds per-row state at 256 structs regardless of
    vocabulary size.
    """
    from pyspark.sql import Window as W

    d = tables(spark, sf_dir)["documents"]
    tok = d.select(
        "lang",
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    c = tok.groupBy("lang", "token").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )
    tot = c.groupBy("lang").agg(
        F.sum("ca").cast("bigint").alias("ta"),
        F.sum("cb").cast("bigint").alias("tb"),
        F.count(F.lit(1)).alias("v"),
    )
    j = c.join(F.broadcast(tot), "lang")
    pa = (F.col("ca") + 1).cast("double") / (F.col("ta") + F.col("v")).cast("double")
    pb = (F.col("cb") + 1).cast("double") / (F.col("tb") + F.col("v")).cast("double")
    terms = j.select("lang", "token", (pa * F.log(pa / pb)).alias("term"))
    rank = F.row_number().over(W.partitionBy("lang").orderBy("token"))
    ranked = terms.withColumn("chunk", F.floor((rank - F.lit(1)) / F.lit(256)))

    chunks = ranked.groupBy("lang", "chunk").agg(
        sorted_fold(F.struct("token", "term"), "term").alias("chunk_sum")
    )
    out = chunks.groupBy("lang").agg(
        F.round(sorted_fold(F.struct("chunk", "chunk_sum"), "chunk_sum"), 6).alias("kl_ab")
    )
    return out.join(F.broadcast(tot), "lang").select(
        "lang",
        F.col("v").alias("vocab"),
        F.col("ta").alias("tokens_a"),
        F.col("tb").alias("tokens_b"),
        "kl_ab",
    )


@query(
    "q_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY cnt DESC, o_orderpriority ASC) AS rn
      FROM c
    ) WHERE rn = 1
    """,
    tags=("aggregation", "statistics"),
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group (most frequent order priority per
    order status) with a DETERMINISTIC tie-break — the reason not to use an
    engine's built-in mode(): on ties both Spark's and DuckDB's pick is
    implementation-defined, so the portable form is count + rank with a
    total order (cnt desc, value asc).

    Scale shape: one map-side-combined (group, value) count, then a
    window over groups whose state is the per-group distinct-value set —
    the exact two-phase decomposition a built-in mode aggregate runs
    internally."""
    o = tables(spark, sf_dir)["orders"]
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


@query(
    "q_asof_join_forward",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS next_error_id, c.ts AS next_error_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT event_id, ts FROM events c
      WHERE c.event_type = 'error' AND c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.ts ASC, c.event_id ASC LIMIT 1
    ) c ON TRUE
    """,
    tags=("streaming", "asof-join"),
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — for each purchase, the user's next error
    at-or-after it (did the checkout blow up?). Completes the as-of
    family: `q_asof_join` looks backward, this looks forward, both via
    the same one-shuffle union-tag composition (operators/asof.py) —
    forward is the identical carry iterated in descending time order,
    with the event_id tiebreak pinned so equal-timestamp rows resolve
    identically on both engines.
    """
    from ..operators import asof_join

    e = tables(spark, sf_dir)["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("next_error_id"), F.col("ts").alias("next_error_ts")
    )
    joined = asof_join(
        purchases,
        errors,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="next_error_ts",
        right_cols=("next_error_id",),
        suffix="",
        direction="forward",
        tiebreak="next_error_id",
    )
    return joined.select(
        "purchase_id", "user_id", "purchase_ts", "next_error_id", "next_error_ts"
    )


@query(
    "q_idempotent_sink_merge",
    oracle="""
    WITH base AS (
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      FROM customer WHERE c_custkey <= 100
    ),
    batch AS (
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) + 50 AS bal
      FROM customer WHERE c_custkey BETWEEN 51 AND 150
    ),
    merged AS (  -- applying the SAME batch once or N times lands here
      SELECT COALESCE(b.c_custkey, ba.c_custkey) AS c_custkey,
             COALESCE(ba.bal, b.bal) AS bal
      FROM base b FULL OUTER JOIN batch ba USING (c_custkey)
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(bal) AS DOUBLE) AS total_bal,
           COUNT(*) FILTER (WHERE c_custkey > 100) AS inserted,
           MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
    FROM merged
    """,
    tags=("lakehouse", "exactly-once", "merge"),
)
def q_idempotent_sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once BY MERGE: the sink-side idempotence pattern for
    at-least-once delivery (the Delta/Iceberg MERGE recipe, complementing
    eos.py's transactional epochs). The query applies the SAME keyed
    batch TWICE through `operators/merge.py:merge_into` — replaying a
    redelivered micro-batch — and the oracle states the ONCE-applied
    result: any non-idempotent behavior (double-applied increment,
    duplicate insert, key churn) flips row counts or the exact decimal
    balance sum.

    Scale shape: each merge is one key-partitioned full-outer join,
    broadcast when the changeset is batch-sized; replaying N times is N
    cheap joins, never a growing state. The batch must carry ABSOLUTE
    values (bal = source + 50), not deltas — idempotence comes from the
    merge seeing the same final row, which is exactly the contract a
    replayed sink batch satisfies.
    """
    from ..operators.merge import OP_COL, OP_UPSERT, merge_into

    c = tables(spark, sf_dir)["customer"]
    base = c.filter(F.col("c_custkey") <= 100).select(
        "c_custkey", dec("c_acctbal").alias("bal")
    )
    batch = (
        c.filter(F.col("c_custkey").between(51, 150))
        .select("c_custkey", (dec("c_acctbal") + F.lit(50)).alias("bal"))
        .withColumn(OP_COL, F.lit(OP_UPSERT))
    )
    once = merge_into(base, batch, "c_custkey")
    twice = merge_into(once, batch, "c_custkey")  # the redelivered batch
    return twice.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bal").cast("double").alias("total_bal"),
        F.count(F.when(F.col("c_custkey") > 100, 1)).alias("inserted"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


@query(
    "q_gdpr_delete_propagation",
    oracle="""
    WITH doomed AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    kept_orders AS (
      -- NULL o_custkey belongs to no data subject: kept, exactly as the
      -- anti-join keeps it (bare NOT IN would NULL-out those rows)
      SELECT o.* FROM orders o
      WHERE o.o_custkey IS NULL
         OR o.o_custkey NOT IN (SELECT c_custkey FROM doomed)
    ),
    kept_lines AS (
      SELECT l.* FROM lineitem l JOIN kept_orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT
      (SELECT COUNT(*) FROM doomed) AS customers_erased,
      (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM kept_orders) AS orders_erased,
      (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM kept_lines) AS lineitems_erased,
      (SELECT COUNT(*) FROM kept_orders) AS orders_kept,
      (SELECT COUNT(*) FROM kept_lines) AS lineitems_kept,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) FROM kept_orders) AS kept_order_value
    """,
    tags=("lakehouse", "compliance", "join"),
)
def q_gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade: erase a deterministic customer set
    and propagate the deletion through the FK graph (orders via
    anti-join on the customer set, lineitems via semi-join on surviving
    orders), with an audit row counting every erased and kept entity and
    the exact kept order value — the compliance report a 100 TB
    lakehouse produces per deletion batch.

    Scale shape: the doomed-key set is tiny (broadcast anti-join against
    orders); lineitem prunes via a key-partitioned semi-join against the
    surviving orders. No table is rewritten here — the query produces
    the audited KEEP frames; persisting them is the partition-overwrite
    path (`q_partition_overwrite`) applied to affected partitions only.
    """
    t = tables(spark, sf_dir)
    doomed = t["customer"].filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    orders, lineitem = t["orders"], t["lineitem"]
    kept_orders = orders.join(
        F.broadcast(doomed), orders.o_custkey == doomed.c_custkey, "left_anti"
    )
    kept_lines = lineitem.join(
        kept_orders.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    audit = (
        doomed.agg(F.count(F.lit(1)).alias("customers_erased"))
        .crossJoin(orders.agg(F.count(F.lit(1)).alias("_all_o")))
        .crossJoin(
            kept_orders.agg(
                F.count(F.lit(1)).alias("orders_kept"),
                F.sum(dec("o_totalprice")).cast("double").alias("kept_order_value"),
            )
        )
        .crossJoin(lineitem.agg(F.count(F.lit(1)).alias("_all_l")))
        .crossJoin(kept_lines.agg(F.count(F.lit(1)).alias("lineitems_kept")))
    )
    return audit.select(
        "customers_erased",
        (F.col("_all_o") - F.col("orders_kept")).alias("orders_erased"),
        (F.col("_all_l") - F.col("lineitems_kept")).alias("lineitems_erased"),
        "orders_kept",
        "lineitems_kept",
        "kept_order_value",
    )


@query(
    "q_benford_digit_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1) AS INT)
               AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    tot AS (SELECT COUNT(*) AS n FROM d)
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST((COUNT(*) * 10000) // (SELECT n FROM tot) AS BIGINT) AS share_x10000
    FROM d GROUP BY digit
    """,
    tags=("quality", "audit", "fraud"),
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit — the classic fraud / synthetic-data
    screen: the leading-digit distribution of order totals, as exact
    counts plus floor-scaled shares (x10000, integer — the Benford
    expectation log10(1+1/d) is the reader's overlay, kept out of the
    hash so no float crosses engines). Naturally-grown monetary data
    tracks Benford; flat or uniform first digits flag generated or
    manipulated ledgers — the fixture, being synthetic-uniform, shows
    exactly that deviation, which is the point of the audit.

    Scale shape: map-side digit extraction via decimal-string prefix
    (identical canonical form both engines), one 9-group combine; the
    share denominator is a broadcast 1-row aggregate.
    """
    o = tables(spark, sf_dir)["orders"]
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(dec("o_totalprice").cast("string"), 1, 1).cast("int").alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            F.expr("(n_orders * 10000) DIV n").cast("bigint").alias("share_x10000"),
        )
    )


@query(
    "q_order_total_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS computed
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(12,2)) AS booked,
             li.computed,
             CASE WHEN li.computed IS NULL THEN 'no_lineitems'
                  WHEN ABS(li.computed - CAST(o.o_totalprice AS DECIMAL(12,2))) < 0.005
                       THEN 'match'
                  ELSE 'mismatch' END AS status
      FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(booked) AS DOUBLE) AS booked_total,
           CAST(SUM(CASE WHEN computed IS NOT NULL
                         THEN ABS(computed - booked) ELSE booked END) AS DOUBLE)
             AS abs_discrepancy
    FROM j GROUP BY status
    """,
    tags=("quality", "audit", "finance", "join"),
)
def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial RECONCILIATION audit — does the order header's booked
    total equal the sum of its lines under the TPC-H pricing formula
    (extendedprice * (1-discount) * (1+tax))? Every order is classified
    match / mismatch / no_lineitems, with exact-DECIMAL discrepancy
    mass per class — the dual-ledger consistency check every warehouse
    runs between a fact header and its detail table. On this synthetic
    fixture headers were generated independently of lines, so the audit
    SURFACES that (mostly mismatch) — deterministic either way, which
    is what the driver hash checks.

    Scale shape: one lineitem aggregation shuffled on the order key,
    one key-partitioned left join to headers (co-partitioned for free
    on bucketed fact tables), map-side classification, 3-row combine.
    DECIMAL end to end — a float epsilon here would make 'match'
    engine-dependent; 0.005 against 2-decimal DECIMALs is exact.
    """
    t = tables(spark, sf_dir)
    li = t["lineitem"].groupBy("l_orderkey").agg(
        F.sum(
            dec("l_extendedprice")
            * (F.lit(1) - dec("l_discount", 4, 2))
            * (F.lit(1) + dec("l_tax", 4, 2))
        ).alias("computed")
    )
    o = t["orders"].select("o_orderkey", dec("o_totalprice").alias("booked"))
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"], "left").select(
        "booked",
        "computed",
        F.when(F.col("computed").isNull(), "no_lineitems")
        .when(F.abs(F.col("computed") - F.col("booked")) < 0.005, "match")
        .otherwise("mismatch")
        .alias("status"),
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("booked").cast("double").alias("booked_total"),
        F.sum(
            F.when(
                F.col("computed").isNotNull(), F.abs(F.col("computed") - F.col("booked"))
            ).otherwise(F.col("booked"))
        ).cast("double").alias("abs_discrepancy"),
    )
