"""Round-9 operator batch 2: DSIR importance weighting, chrF pair
scoring, the Wald-Wolfowitz runs test, a streaming curation gate, and
the sliding-window streaming replay.

Family placement: DSIR (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling") is the model-free data-selection
score that sits between the CCNet perplexity filter (round9) and the
Gopher rule census — hashed n-gram importance ratios against a target
slice. chrF (Popović 2015) completes the pair-quality triad next to
BLEU precision and exact Jaccard. The runs test completes the
nonparametric family (KS, Mann-Whitney, chi-squared). The streaming
quality gate shows the Gopher census running IN-FLIGHT over a document
stream; the sliding-window replay covers the one windowed-aggregation
shape the streaming tier still lacked (overlapping windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import tables
from ._util import work_dir
from .dedup2 import _PAIRS_CTE, _h_sql, pair_index, portable_hash64
from .registry import query
from .streaming_replay import _literal_rows, _write_chunks, run_replay

# ---------------------------------------------------------------------------
# DSIR hashed-n-gram importance weights
# ---------------------------------------------------------------------------

_DSIR_B = 64  # hash-feature buckets (DSIR uses 10k; vocab here is 31 words)


@query(
    "q_dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, u.w AS w
      FROM documents, unnest(string_split(text, ' ')) AS u(w)
    ),
    b AS (SELECT doc_id, source, {_h_sql('w', '7')} % {_DSIR_B} AS bucket FROM tok),
    ct AS (  -- target = the clean slice src0..src9
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM b WHERE CAST(SUBSTR(source, 4) AS INT) < 10 GROUP BY bucket
    ),
    cr AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bucket),
    nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
    nr AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cr),
    wt AS (  -- ln once per BUCKET, quantized to micro-nats
      SELECT cr.bucket,
             CAST(FLOOR(1000000 * (
                    ln(CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) / (nt.n + {_DSIR_B}))
                  - ln(CAST(cr.c + 1 AS DOUBLE) / (nr.n + {_DSIR_B}))
             )) AS BIGINT) AS w_micro
      FROM cr LEFT JOIN ct ON ct.bucket = cr.bucket
      CROSS JOIN nt CROSS JOIN nr
    ),
    tf AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf FROM b GROUP BY 1, 2
    )
    SELECT tf.doc_id,
           CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf.tf * wt.w_micro) AS BIGINT) AS logw_micro,
           CAST(FLOOR(CAST(SUM(tf.tf * wt.w_micro) AS DOUBLE) / SUM(tf.tf))
                AS BIGINT) AS avg_logw_q6
    FROM tf JOIN wt USING (bucket)
    GROUP BY tf.doc_id
    """,
    tags=("text", "quality", "llm-data", "curation", "round9"),
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection scores (Xie et al. 2023): hashed unigram
    features (portable-hash buckets), add-1-smoothed bucket
    distributions for the TARGET (clean slice src0..src9) and the RAW
    corpus, per-bucket log importance ratios ln(p_t/p_r) quantized to
    integer micro-nats, and each document scored by its feature-summed
    log weight (total + length-normalized) — the score DSIR resamples
    by to tilt a web crawl toward a target domain without training a
    model.

    Exactness: the ln ratio is computed once per BUCKET (<= 64 types)
    and floor-quantized before any per-doc aggregation, so doc scores
    are order-free integer sums (the q_bigram_lm_score recipe); the
    length normalization is FLOOR(double/double) with an exact integer
    numerator.

    Scale shape: two map-side-combinable bucket histograms (64 keys),
    one broadcast of the 64-row weight table, one per-doc aggregation.
    No joins at data scale, no windows; the model is O(buckets) however
    large the corpus.
    """
    d = tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
    b = tok.select(
        "doc_id",
        "source",
        (portable_hash64(F.col("w"), 7) % _DSIR_B).alias("bucket"),
    )
    is_clean = F.substring("source", 4, 10).cast("int") < 10
    ct = b.filter(is_clean).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
    )
    cr = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
    nt = ct.agg(F.sum("ct").cast("bigint").alias("nt"))
    nr = cr.agg(F.sum("cr").cast("bigint").alias("nr"))
    wt = (
        cr.join(F.broadcast(ct), "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            F.floor(
                F.lit(1000000)
                * (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                        / (F.col("nt") + _DSIR_B)
                    )
                    - F.log((F.col("cr") + 1).cast("double") / (F.col("nr") + _DSIR_B))
                )
            )
            .cast("bigint")
            .alias("w_micro"),
        )
    )
    tf = b.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    return (
        tf.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w_micro")).cast("bigint").alias("logw_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logw_micro",
            F.floor(F.col("logw_micro").cast("double") / F.col("n_tokens"))
            .cast("bigint")
            .alias("avg_logw_q6"),
        )
    )


# ---------------------------------------------------------------------------
# chrF-style character-3-gram F-score over verified near-dup pairs
# ---------------------------------------------------------------------------


@query(
    "q_chrf_pair_fscore",
    oracle=_PAIRS_CTE
    + """,
    chars AS (
      SELECT doc_id, replace(text, ' ', '') AS s FROM documents
      WHERE length(replace(text, ' ', '')) >= 3
    ),
    grams AS (
      SELECT doc_id, substr(s, CAST(i AS INT), 3) AS g,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM chars, unnest(range(1, length(s) - 1)) AS u(i)
      GROUP BY 1, 2
    ),
    lens AS (
      SELECT doc_id, CAST(length(s) - 2 AS BIGINT) AS n FROM chars
    ),
    o AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(LEAST(ga.c, gb.c)) AS BIGINT) AS o_clip
      FROM fpairs p
      JOIN grams ga ON ga.doc_id = p.id_a
      JOIN grams gb ON gb.doc_id = p.id_b AND gb.g = ga.g
      GROUP BY 1, 2
    )
    SELECT o.id_a, o.id_b, o.o_clip,
           la.n AS n_a, lb.n AS n_b,
           CAST(o.o_clip * 1000000 // lb.n AS BIGINT) AS p_q6,
           CAST(o.o_clip * 1000000 // la.n AS BIGINT) AS r_q6,
           CAST(2 * o.o_clip * 1000000 // (la.n + lb.n) AS BIGINT) AS f_q6
    FROM o
    JOIN lens la ON la.doc_id = o.id_a
    JOIN lens lb ON lb.doc_id = o.id_b
    """,
    tags=("text", "evaluation", "similarity", "round9"),
)
def q_chrf_pair_fscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF-style character-n-gram F-score (Popović 2015, n=3, single
    order) over the verified near-dup pairs: whitespace-stripped char
    trigram multisets, clipped overlap O = sum(min(c_a, c_b)), precision
    O/n_b, recall O/n_a, and F1 — which for symmetric P/R collapses to
    the exact integer 2*O/(n_a + n_b). Character-grain overlap catches
    morphological edits (suffix swaps, typos) that word-grain BLEU and
    Jaccard miss, completing the pair-quality triad.

    Exactness: all counts integer; all three ratios are integer floor
    divisions — no floats anywhere.

    Scale shape: pair discovery READS the materialized pair-index
    snapshot (building it if absent — VERDICT r9 #1: index once per
    corpus snapshot, consumers read); trigram counting runs ONLY on
    pair-endpoint docs (broadcast semi-join before the position explode
    — the q_bleu_ngram_precision lesson applied from birth), so the
    n-gram shuffle is candidate-scale. The overlap join is per-(pair,
    shared-gram), bounded by doc length.
    """
    fpairs = pair_index(spark, sf_dir)
    pairs = fpairs.select("id_a", "id_b").localCheckpoint(eager=False)
    endpoints = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    d = tables(spark, sf_dir)["documents"]
    chars = (
        d.join(F.broadcast(endpoints), "doc_id", "left_semi")
        .select("doc_id", F.replace(F.col("text"), F.lit(" "), F.lit("")).alias("s"))
        .filter(F.length("s") >= 3)
        .localCheckpoint(eager=False)
    )
    grams = (
        chars.select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lens = chars.select("doc_id", (F.length("s") - 2).cast("bigint").alias("n"))
    ga = grams.select(F.col("doc_id").alias("id_a"), "g", F.col("c").alias("c_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), "g", F.col("c").alias("c_b"))
    o = (
        pairs.join(ga, "id_a")
        .join(gb, ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("c_a", "c_b")).cast("bigint").alias("o_clip"))
    )
    la = lens.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    lb = lens.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        o.join(la, "id_a")
        .join(lb, "id_b")
        .select(
            "id_a",
            "id_b",
            "o_clip",
            "n_a",
            "n_b",
            F.expr("o_clip * 1000000 DIV n_b").cast("bigint").alias("p_q6"),
            F.expr("o_clip * 1000000 DIV n_a").cast("bigint").alias("r_q6"),
            F.expr("2 * o_clip * 1000000 DIV (n_a + n_b)").cast("bigint").alias("f_q6"),
        )
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily revenue direction series
# ---------------------------------------------------------------------------


@query(
    "q_runs_test_daily",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS day,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY 1
    ),
    d AS (
      SELECT day, y - lag(y) OVER (ORDER BY day) AS delta FROM daily
    ),
    s AS (
      SELECT day, CASE WHEN delta > 0 THEN 1 ELSE 0 END AS up
      FROM d WHERE delta IS NOT NULL AND delta != 0
    ),
    r AS (
      SELECT up, CASE WHEN up = lag(up) OVER (ORDER BY day) THEN 0 ELSE 1 END AS brk
      FROM s
    ),
    agg AS (
      SELECT CAST(SUM(up) AS BIGINT) AS n1,
             CAST(SUM(1 - up) AS BIGINT) AS n2,
             CAST(SUM(COALESCE(brk, 1)) AS BIGINT) AS runs
      FROM r
    )
    SELECT n1, n2, runs,
           CAST(FLOOR(1000000.0 * (1.0 + 2.0 * n1 * n2 / (n1 + n2))) AS BIGINT)
             AS mu_q6,
           CAST(FLOOR(1000000.0 * (
             (runs - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
           )) AS BIGINT) AS z_q6
    FROM agg
    """,
    tags=("stats", "nonparametric", "timeseries", "round9"),
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the 1997 daily-revenue
    DIRECTION series (up/down day-over-day deltas; zero deltas excluded,
    the standard treatment): counts n1 ups, n2 downs, and R runs of
    consecutive equal signs, then the normal-approximation z statistic
    z = (R - mu)/sigma with mu = 1 + 2*n1*n2/n. Completes the
    nonparametric family (q_ks_two_sample, q_mannwhitney_u,
    q_chi2_independence) with the classic serial-dependence check.

    Exactness: n1/n2/runs are pure integer counts; mu and z are one
    fixed double expression tree over those integers (IEEE division and
    correctly-rounded sqrt are bit-identical cross-engine), quantized at
    the end — the q_kendall_tau exactness pattern.

    Scale shape: the LAG windows run on the day grain AFTER the groupBy
    collapses data-scale rows to <=366 — the documented SF-invariant
    single-partition window pattern (SCALE.md); at any SF only the
    pre-aggregation widens.
    """
    li = tables(spark, sf_dir)["lineitem"]
    daily = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.sum((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    wd = Window.orderBy("day")
    s = (
        daily.select("day", (F.col("y") - F.lag("y").over(wd)).alias("delta"))
        .filter(F.col("delta").isNotNull() & (F.col("delta") != 0))
        .select("day", F.when(F.col("delta") > 0, 1).otherwise(0).alias("up"))
    )
    r = s.select(
        "up",
        F.when(F.col("up") == F.lag("up").over(wd), 0).otherwise(1).alias("brk"),
    )
    agg = r.agg(
        F.sum("up").cast("bigint").alias("n1"),
        F.sum(1 - F.col("up")).cast("bigint").alias("n2"),
        F.sum(F.coalesce("brk", F.lit(1))).cast("bigint").alias("runs"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    mu = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    sigma2 = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        "n1",
        "n2",
        "runs",
        F.floor(F.lit(1000000.0) * mu).cast("bigint").alias("mu_q6"),
        F.floor(F.lit(1000000.0) * ((runs - mu) / F.sqrt(sigma2)))
        .cast("bigint")
        .alias("z_q6"),
    )


# ---------------------------------------------------------------------------
# Streaming curation gate: the Gopher census running in-flight
# ---------------------------------------------------------------------------

_GATE_MAXTOK_EXPR = (
    "array_max(transform(array_distinct(split(text, ' ')), "
    "d -> size(filter(split(text, ' '), x -> x = d))))"
)


@query(
    "q_stream_quality_gate_replay",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(w) AS BIGINT) AS wc,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
             CAST((SELECT COUNT(DISTINCT s)
                   FROM unnest(w) AS u(s)
                   WHERE s IN ('the', 'a', 'of', 'and', 'to')) AS BIGINT) AS n_stop,
             CAST(list_max(list_transform(list_distinct(w),
                    d -> len(list_filter(w, x -> x = d)))) AS BIGINT) AS max_tok,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_wchars
      FROM (SELECT source, text, string_split(text, ' ') AS w FROM documents)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN wc BETWEEN 20 AND 90
                          AND n_wchars >= 3 * wc AND n_wchars <= 8 * wc
                          AND n_stop >= 2
                          AND 2 * n_distinct >= wc
                          AND 5 * max_tok <= wc
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM per_doc
    GROUP BY source
    """,
    tags=("streaming", "quality", "llm-data", "curation", "replay"),
)
def q_stream_quality_gate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality census running IN-FLIGHT: documents arrive as
    a 2-chunk file stream and every rule evaluates as a row-level
    codegen expression inside one streaming groupBy(source) aggregation
    (complete mode) — the admission-control shape where a crawl ingest
    reports per-source pass counts continuously instead of in a nightly
    batch.

    The one batch-plan difference, stated: the single-token-domination
    rule computes max token count via an array higher-order expression
    (O(distinct * len) per doc — fine for bounded doc lengths) instead
    of the batch census's explode + doc-grain groupBy, because a second
    aggregation under a streaming global agg would need
    multi-stateful-operator support that complete mode does not give.
    The oracle states the same census over the base table, so a dropped
    chunk, a double-counted doc, or a rule-expression divergence between
    the streaming and batch forms flips the hash.

    Scale shape: one stateful operator, 20 grouping keys, map-side
    partial aggregation before the state store — the cheapest possible
    streaming census; rules are pure codegen over each row.
    """
    d = tables(spark, sf_dir)["documents"].select("doc_id", "source", "text")
    base = work_dir("squalgate", sf_dir)
    flat = _write_chunks(
        [d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)],
        base,
    )
    stream = spark.readStream.schema(d.schema).option("maxFilesPerTrigger", 1).parquet(
        flat
    )
    w = F.split("text", " ")
    flags = stream.select(
        "source",
        F.size(w).cast("bigint").alias("wc"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct"),
        F.size(
            F.array_intersect(
                F.array_distinct(w),
                F.array(*[F.lit(s) for s in ("the", "a", "of", "and", "to")]),
            )
        )
        .cast("bigint")
        .alias("n_stop"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("n_wchars"),
        F.expr(_GATE_MAXTOK_EXPR).cast("bigint").alias("max_tok"),
    )
    gate = (
        F.col("wc").between(20, 90)
        & (F.col("n_wchars") >= 3 * F.col("wc"))
        & (F.col("n_wchars") <= 8 * F.col("wc"))
        & (F.col("n_stop") >= 2)
        & (2 * F.col("n_distinct") >= F.col("wc"))
        & (5 * F.col("max_tok") <= F.col("wc"))
    )
    census = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(gate, 1).otherwise(0)).cast("bigint").alias("n_pass"),
    )
    return run_replay(
        spark, census, base, shuffle_partitions=2, output_mode="complete"
    )


# ---------------------------------------------------------------------------
# Sliding-window streaming aggregation replay (overlapping windows)
# ---------------------------------------------------------------------------


@query(
    "q_stream_sliding_window_replay",
    oracle="""
    WITH wm AS (
      SELECT (SELECT max(ts) FROM events) - INTERVAL 30 MINUTE AS wm_ts
    ),
    slid AS (  -- each event belongs to exactly 2 hour-long windows
               -- sliding by 30 minutes (starts :00 and :30)
      SELECT date_trunc('hour', ts)
               + CASE WHEN EXTRACT(minute FROM ts) >= 30
                      THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
               - k.o * INTERVAL 30 MINUTE AS window_start,
             event_type, value
      FROM events, (SELECT unnest(range(0, 2)) AS o) k
    )
    , grouped AS (
      SELECT window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM slid
      GROUP BY 1, 2
    )
    SELECT * FROM grouped
    WHERE window_start + INTERVAL 1 HOUR <= (SELECT wm_ts FROM wm)
    """,
    tags=("streaming", "window", "sliding", "replay"),
)
def q_stream_sliding_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (overlapping) windowed aggregation executed as a real
    stream — the windowed shape the replay tier still lacked (tumbling,
    session, and chained rollups exist): 1-hour windows sliding every 30
    minutes, so each event lands in exactly TWO window states and each
    wall-clock hour closes two overlapping leaderboard rows. Append mode
    + 30-minute watermark; the sentinel chunk pins the final watermark
    and the trailing no-data batch evicts every closed window.

    The oracle expands the window membership algebraically (window_start
    = half-hour truncation - k*30min for k in 0..1) and states the same
    closure horizon (window_end <= final watermark), so an event counted
    in one window instead of two, a window emitted before closing, or a
    double emission after restart all flip the hash.

    Scale shape: sliding windows multiply state rows by the
    window/slide ratio (2x here) — the documented cost of overlap; keys
    stay (window, type)-partitioned and map-side combined. The fixture
    replay scopes state stores to 2 partitions.
    """
    ev = tables(spark, sf_dir)["events"].select("ts", "event_type", "value")
    maxts = ev.agg(F.max("ts").alias("mx")).collect()[0].mx
    base = work_dir("ssliding", sf_dir)
    flat = _write_chunks(
        [
            ev.filter(F.col("ts") <= F.lit(maxts) - F.expr("INTERVAL 12 HOURS")),
            ev.filter(F.col("ts") > F.lit(maxts) - F.expr("INTERVAL 12 HOURS")),
            _literal_rows(spark, [(maxts, "___wm1", 0.0)], ev.schema),
        ],
        base,
    )
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("v"),
        )
        .filter(~F.col("event_type").startswith("___wm"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            F.col("v").cast("double").alias("sum_value"),
        )
    )
    return run_replay(spark, agg, base, shuffle_partitions=2)
