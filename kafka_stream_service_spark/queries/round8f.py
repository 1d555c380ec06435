"""Round-8 operator batch 6: preference-pair mining, tokenizer
fertility, BLEU-style n-gram precision, and HyperLogLog SET ALGEBRA
(union/intersection estimation from mergeable register state).

Family placement: preference pairs are the RLHF/DPO data-prep step on
top of the q_logreg_score_text quality model; tokenizer fertility is
the standard multilingual tokenizer-evaluation metric composing
q_bpe_apply_merges' vocabulary-grain token counts; BLEU-1/2 modified
precision scores the near-dup pairs the LSH pipeline surfaces (an
overlap QUALITY measure next to the binary Jaccard verdict); HLL set
algebra extends q_hll_registers_portable from register construction to
the union/intersection estimates registers exist for — entirely from
O(m) sketch state per source, with exact ground truth alongside.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .dedup2 import _PAIRS_CTE, PAIR_INDEX, _h_sql, portable_hash64
from .registry import query

# ---------------------------------------------------------------------------
# Preference-pair mining (chosen/rejected per group by model score)
# ---------------------------------------------------------------------------

# the q_logreg_score_text model, shared expression (weights are the
# same literals; see round8b for the model card)
_LR_SQL_SCORE = """
      CAST(FLOOR(1000000.0 * (1.0 / (1.0 + exp(-(
        -1.5 + 0.8 * (CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0)
        + 2.0 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE))
        + -0.3 * (CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE))
        + 1.2 * (CASE WHEN list_contains(string_split(text, ' '), 'dup')
                 THEN 1.0 ELSE 0.0 END)
      ))))) AS BIGINT)
"""


def _lr_score_col() -> Column:
    toks = F.split(F.col("text"), " ")
    z = (
        F.lit(-1.5)
        + F.lit(0.8) * (F.size(toks).cast("double") / F.lit(100.0))
        + F.lit(2.0) * (F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double"))
        + F.lit(-0.3)
        * (
            (F.col("n_chars") - (F.size(toks) - 1)).cast("double")
            / F.size(toks).cast("double")
        )
        + F.lit(1.2) * F.when(F.array_contains(toks, "dup"), 1.0).otherwise(0.0)
    )
    return F.floor(F.lit(1000000.0) * (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))).cast(
        "bigint"
    )


@query(
    "q_preference_pairs",
    oracle=f"""
    WITH s AS (
      SELECT source, doc_id, {_LR_SQL_SCORE} AS score_q6 FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, score_q6,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score_q6 DESC, doc_id) AS r_top,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score_q6 ASC, doc_id) AS r_bot
      FROM s
    )
    SELECT t.source,
           CAST(t.doc_id AS BIGINT) AS chosen_doc,
           t.score_q6 AS chosen_score_q6,
           CAST(b.doc_id AS BIGINT) AS rejected_doc,
           b.score_q6 AS rejected_score_q6,
           CAST(t.score_q6 - b.score_q6 AS BIGINT) AS margin_q6
    FROM (SELECT * FROM ranked WHERE r_top = 1) t
    JOIN (SELECT * FROM ranked WHERE r_bot = 1) b ON b.source = t.source
    """,
    tags=("llm-data", "preference", "rlhf", "round8"),
)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining — the RLHF/DPO data-prep step: within each
    source group, pair the quality model's top-scored document (chosen)
    against its bottom-scored one (rejected), with the score margin the
    pair's training weight. Scores come from the same fixed-weight
    logistic model as q_logreg_score_text; deterministic (score, doc_id)
    tie-breaks on both ranks.

    Scale shape: one shuffle-free scoring pass, two rank windows over
    the source partitions (per-group top-1/bottom-1 — a bounded heap at
    scale), one tiny self-join on source.
    """
    d = tables(spark, sf_dir)["documents"]
    s = d.select("source", "doc_id", _lr_score_col().alias("score_q6"))
    wt = Window.partitionBy("source").orderBy(F.col("score_q6").desc(), "doc_id")
    wb = Window.partitionBy("source").orderBy(F.col("score_q6").asc(), "doc_id")
    ranked = barrier(s.select(
        "source",
        "doc_id",
        "score_q6",
        F.row_number().over(wt).alias("r_top"),
        F.row_number().over(wb).alias("r_bot"),
    ), "reuse")  # feeds both rank filters
    top = ranked.filter(F.col("r_top") == 1).select(
        "source",
        F.col("doc_id").cast("bigint").alias("chosen_doc"),
        F.col("score_q6").alias("chosen_score_q6"),
    )
    bot = ranked.filter(F.col("r_bot") == 1).select(
        "source",
        F.col("doc_id").cast("bigint").alias("rejected_doc"),
        F.col("score_q6").alias("rejected_score_q6"),
    )
    return top.join(bot, "source").select(
        "source",
        "chosen_doc",
        "chosen_score_q6",
        "rejected_doc",
        "rejected_score_q6",
        (F.col("chosen_score_q6") - F.col("rejected_score_q6"))
        .cast("bigint")
        .alias("margin_q6"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (tokens per word, chars per token)
# ---------------------------------------------------------------------------

from .round8e import _merge_expr_sql  # noqa: E402  (shared merge contract)


@query(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH words AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT w FROM wf),
    seq AS (
      SELECT w, '|' || array_to_string(string_split_regex(w, ''), '|') || '|' AS s0
      FROM vocab
    ),
    tok AS (
      SELECT w,
             CAST(length(w) AS BIGINT) AS n_chars,
             CAST(length({_merge_expr_sql("s0")})
                  - length(replace({_merge_expr_sql("s0")}, '|', '')) - 1
                  AS BIGINT) AS n_tokens
      FROM seq
    ),
    agg AS (
      SELECT wf.lang,
             CAST(SUM(wf.freq) AS BIGINT) AS n_words,
             CAST(SUM(wf.freq * t.n_tokens) AS BIGINT) AS n_tokens,
             CAST(SUM(wf.freq * t.n_chars) AS BIGINT) AS n_chars
      FROM wf JOIN tok t ON t.w = wf.w
      GROUP BY wf.lang
    )
    SELECT lang, n_words, n_tokens, n_chars,
           CAST(FLOOR(1000000.0 * (CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)))
                AS BIGINT) AS fertility_q6,
           CAST(FLOOR(1000000.0 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)))
                AS BIGINT) AS chars_per_token_q6
    FROM agg
    """,
    tags=("text", "tokenizer", "llm-data", "round8"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — the standard multilingual
    tokenizer-evaluation metric (tokens emitted per word; high fertility
    = the tokenizer fragments that language, inflating its effective
    sequence lengths and training cost): the q_bpe_apply_merges merge
    chain tokenizes the vocabulary once, and per-language word
    frequencies weight the per-word token counts into corpus totals.
    Chars-per-token rides along as the compression view.

    Scale shape: tokenization at the vocabulary grain (distinct words),
    word frequencies at the (lang, word) grain, one broadcast-sized
    join between them — the corpus is never re-tokenized per row.
    """
    d = tables(spark, sf_dir)["documents"]
    words = d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("w"))
    wf = words.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    vocab = wf.select("w").distinct()
    seq = vocab.withColumn(
        "s0",
        F.concat(F.lit("|"), F.array_join(F.split(F.col("w"), ""), "|"), F.lit("|")),
    )
    merged = seq.withColumn("s", F.expr(_merge_expr_sql("s0")))
    tok = merged.select(
        "w",
        F.length("w").cast("bigint").alias("n_chars_w"),
        (F.length("s") - F.length(F.regexp_replace("s", "\\|", "")) - 1)
        .cast("bigint")
        .alias("n_tokens_w"),
    )
    agg = (
        wf.join(F.broadcast(tok), "w")
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_tokens_w")).cast("bigint").alias("n_tokens"),
            F.sum(F.col("freq") * F.col("n_chars_w")).cast("bigint").alias("n_chars"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_tokens",
        "n_chars",
        F.floor(
            F.lit(1000000.0) * (F.col("n_tokens").cast("double") / F.col("n_words").cast("double"))
        )
        .cast("bigint")
        .alias("fertility_q6"),
        F.floor(
            F.lit(1000000.0) * (F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"))
        )
        .cast("bigint")
        .alias("chars_per_token_q6"),
    )


# ---------------------------------------------------------------------------
# BLEU-style modified n-gram precision over verified near-dup pairs
# ---------------------------------------------------------------------------


@query(
    "q_bleu_ngram_precision",
    oracle=_PAIRS_CTE
    + """,
    uni AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2
    ),
    bi AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS tok
        FROM t, unnest(range(1, len(toks))) AS u(i)
      ) GROUP BY 1, 2
    ),
    lens AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_uni,
             CAST(len(toks) - 1 AS BIGINT) AS n_bi
      FROM t
    ),
    clip1 AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(LEAST(b.c, COALESCE(a.c, 0))) AS BIGINT) AS clip_uni
      FROM fpairs p
      JOIN uni b ON b.doc_id = p.id_b
      LEFT JOIN uni a ON a.doc_id = p.id_a AND a.tok = b.tok
      GROUP BY 1, 2
    ),
    clip2 AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(LEAST(b.c, COALESCE(a.c, 0))) AS BIGINT) AS clip_bi
      FROM fpairs p
      JOIN bi b ON b.doc_id = p.id_b
      LEFT JOIN bi a ON a.doc_id = p.id_a AND a.tok = b.tok
      GROUP BY 1, 2
    )
    SELECT c1.id_a, c1.id_b, c1.clip_uni, c2.clip_bi,
           lb.n_uni AS cand_uni, lb.n_bi AS cand_bi,
           CAST(c1.clip_uni * 1000000 // lb.n_uni AS BIGINT) AS p1_q6,
           CAST(c2.clip_bi * 1000000 // lb.n_bi AS BIGINT) AS p2_q6
    FROM clip1 c1
    JOIN clip2 c2 ON c2.id_a = c1.id_a AND c2.id_b = c1.id_b
    JOIN lens lb ON lb.doc_id = c1.id_b
    """,
    tags=("text", "evaluation", "bleu", "round8"),
)
def q_bleu_ngram_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-style MODIFIED n-gram precision (Papineni et al. 2002) over
    the verified near-dup pairs: for each pair surfaced and
    Jaccard-verified by the portable LSH pipeline, the higher-id doc is
    scored as a candidate against the lower-id reference — clipped
    unigram and bigram counts (min of candidate and reference
    multiplicities, the clipping that stops 'the the the' gaming) over
    candidate length. Entirely integer (counts, floor division), giving
    the dedup tier a graded overlap QUALITY measure next to its binary
    keep/drop verdict.

    Scale shape: pair discovery READS the materialized pair-index
    snapshot (building it if absent — VERDICT r9 #1: index once per
    corpus snapshot, consumers read; the ~5 s shared discovery floor is
    paid by q_pair_index_snapshot's timed build, not re-derived here);
    the scoring joins touch only candidate-pair n-gram rows (pair count
    * doc length, never corpus^2). N-gram counts are per-doc groupBys —
    computed ONLY for pair-endpoint docs: the tokenized frame is
    broadcast-semi-joined against the (tiny) endpoint set before any
    explode, so at 100 TB the n-gram shuffles are candidate-scale, not
    corpus-scale (VERDICT r8 #4; the oracle's corpus-wide CTEs are
    unaffected because the clipped sums only ever read pair rows).
    """
    fpairs = PAIR_INDEX.read(spark, sf_dir)
    pairs = barrier(fpairs.select("id_a", "id_b"), "reuse")
    endpoints = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    d = tables(spark, sf_dir)["documents"]
    t = barrier(
        d.join(F.broadcast(endpoints), "doc_id", "left_semi")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks")),
        "reuse",
    )
    uni = t.select("doc_id", F.explode("toks").alias("tok")).groupBy(
        "doc_id", "tok"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    bi = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat_ws(' ', toks[i-1], toks[i]))"
                )
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lens = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_uni"),
        (F.size("toks") - 1).cast("bigint").alias("n_bi"),
    )

    def clipped(counts: DataFrame, out: str) -> DataFrame:
        b = counts.select(F.col("doc_id").alias("id_b"), "tok", F.col("c").alias("c_b"))
        a = counts.select(
            F.col("doc_id").alias("id_a"), "tok", F.col("c").alias("c_a")
        )
        return (
            pairs.join(b, "id_b")
            .join(a, ["id_a", "tok"], "left")
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(F.least(F.col("c_b"), F.coalesce(F.col("c_a"), F.lit(0))))
                .cast("bigint")
                .alias(out)
            )
        )

    c1 = clipped(uni, "clip_uni")
    c2 = clipped(bi, "clip_bi")
    lb = lens.select(F.col("doc_id").alias("id_b"), F.col("n_uni").alias("cand_uni"), F.col("n_bi").alias("cand_bi"))
    return (
        c1.join(c2, ["id_a", "id_b"])
        .join(lb, "id_b")
        .select(
            "id_a",
            "id_b",
            "clip_uni",
            "clip_bi",
            "cand_uni",
            "cand_bi",
            F.expr("clip_uni * 1000000 DIV cand_uni").cast("bigint").alias("p1_q6"),
            F.expr("clip_bi * 1000000 DIV cand_bi").cast("bigint").alias("p2_q6"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog set algebra: union/intersection estimates from registers
# ---------------------------------------------------------------------------

_HLL_M = 256
# alpha_m for m=256 spelled as the same literal expression both engines
_HLL_ALPHA = "(0.7213 / (1.0 + 1.079 / 256.0))"
_POW60 = 1 << 60


@query(
    "q_hll_set_algebra",
    oracle=f"""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
      SELECT DISTINCT source,
             w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS tok
      FROM t, unnest(range(1, len(w))) AS u(i)
      WHERE length(w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]) >= 3
    ),
    h AS (SELECT source, tok, {_h_sql('tok', '0')} AS hv FROM toks),
    regs AS (
      SELECT source, hv % {_HLL_M} AS bucket,
             MAX(CASE WHEN hv // {_HLL_M} = 0 THEN 53
                 ELSE 53 - length(bin(hv // {_HLL_M})) END) AS rho
      FROM h GROUP BY 1, 2
    ),
    z AS (  -- scaled indicator sum: Z*2^60 exactly, empty registers = 2^60
      SELECT source,
             CAST(SUM(CAST(({_POW60} >> rho) AS HUGEINT)) AS HUGEINT)
               + CAST(({_HLL_M} - COUNT(*)) AS HUGEINT) * {_POW60} AS zs
      FROM regs GROUP BY source
    ),
    exact AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact FROM toks GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM exact a JOIN exact b ON a.source < b.source
    ),
    uregs AS (
      SELECT p.source_a, p.source_b, r.bucket, MAX(r.rho) AS rho
      FROM pairs p JOIN regs r ON r.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3
    ),
    uz AS (
      SELECT source_a, source_b,
             CAST(SUM(CAST(({_POW60} >> rho) AS HUGEINT)) AS HUGEINT)
               + CAST(({_HLL_M} - COUNT(*)) AS HUGEINT) * {_POW60} AS zs_u
      FROM uregs GROUP BY 1, 2
    ),
    einter AS (
      SELECT x.source AS source_a, y.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS exact_inter
      FROM toks x JOIN toks y ON y.tok = x.tok AND x.source < y.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           ea.n_exact AS exact_a, eb.n_exact AS exact_b,
           COALESCE(i.exact_inter, 0) AS exact_inter,
           ea.n_exact + eb.n_exact - COALESCE(i.exact_inter, 0) AS exact_union,
           CAST(FLOOR({_HLL_ALPHA} * 256.0 * 256.0 * {_POW60}.0
                      / CAST(uz.zs_u AS DOUBLE)) AS BIGINT) AS est_union,
           CAST(FLOOR({_HLL_ALPHA} * 256.0 * 256.0 * {_POW60}.0
                      * (1.0 / CAST(za.zs AS DOUBLE) + 1.0 / CAST(zb.zs AS DOUBLE)
                         - 1.0 / CAST(uz.zs_u AS DOUBLE))) AS BIGINT) AS est_inter
    FROM pairs p
    JOIN exact ea ON ea.source = p.source_a
    JOIN exact eb ON eb.source = p.source_b
    JOIN z za ON za.source = p.source_a
    JOIN z zb ON zb.source = p.source_b
    JOIN uz ON uz.source_a = p.source_a AND uz.source_b = p.source_b
    LEFT JOIN einter i ON i.source_a = p.source_a AND i.source_b = p.source_b
    """,
    tags=("sketch", "approx", "set-algebra", "llm-data", "round8"),
)
def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog SET ALGEBRA — the payoff of mergeable register state:
    per-source bigram-vocabulary HLL registers (the
    q_hll_registers_portable construction, partitioned by source) are
    merged pairwise by elementwise max to estimate each union cardinality,
    and inclusion-exclusion gives the intersection estimate — all from
    O(m)=256 cells per source, never rescanning either side. The
    indicator sum is kept EXACT: sum(2^-rho) is computed as the integer
    sum(2^(60-rho)) in HUGEINT/DECIMAL(38) (every term a dyadic
    rational, empty registers contributing 2^60), so the only float
    step is one fixed alpha*m^2/Z expression. Exact per-source, union,
    and intersection cardinalities ride along as ground truth — the
    estimator is oracle-certified against its own truth, the
    lsh_recall_audit pattern.

    Scale shape: register construction is one (source, bucket) groupBy
    with map-side max-combine; the pair algebra touches 20*256 register
    rows. The exact-truth joins exist to certify the estimates and are
    the only corpus-sized legs.
    """
    d = tables(spark, sf_dir)["documents"]
    t = d.select("source", F.split(F.col("text"), " ").alias("w"))
    toks = barrier(
        t.select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i-1], w[i]))"
                )
            ).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
        .distinct(),
        "reuse",  # feeds hash, exact counts, truth join
    )
    hv = portable_hash64(F.col("tok"), 0)
    h = toks.select("source", hv.alias("hv"))
    v = F.expr(f"hv DIV {_HLL_M}")
    rho = F.when(v == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v)))
    regs = barrier(
        h.select("source", (F.col("hv") % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("rho")),
        "reuse",  # feeds per-source Z + pair union
    )
    term = F.expr(f"CAST(shiftright({_POW60}, rho) AS DECIMAL(38,0))")
    z = regs.groupBy("source").agg(
        (
            F.sum(term)
            + (F.lit(_HLL_M) - F.count(F.lit(1))).cast("decimal(38,0)") * F.lit(_POW60)
        ).alias("zs")
    )
    exact = toks.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    ea = exact.select(F.col("source").alias("source_a"), F.col("n_exact").alias("exact_a"))
    eb = exact.select(F.col("source").alias("source_b"), F.col("n_exact").alias("exact_b"))
    pairs = ea.join(eb, F.col("source_a") < F.col("source_b"))
    uregs = (
        pairs.select("source_a", "source_b")
        .join(
            regs,
            (regs["source"] == F.col("source_a")) | (regs["source"] == F.col("source_b")),
        )
        .groupBy("source_a", "source_b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    uz = uregs.groupBy("source_a", "source_b").agg(
        (
            F.sum(term)
            + (F.lit(_HLL_M) - F.count(F.lit(1))).cast("decimal(38,0)") * F.lit(_POW60)
        ).alias("zs_u")
    )
    hx = toks.select(F.col("source").alias("source_a"), "tok")
    hy = toks.select(F.col("source").alias("source_b"), "tok")
    einter = (
        hx.join(hy, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    za = z.select(F.col("source").alias("source_a"), F.col("zs").alias("zs_a"))
    zb = z.select(F.col("source").alias("source_b"), F.col("zs").alias("zs_b"))
    alpha_m2_p60 = F.expr(f"{_HLL_ALPHA} * 256.0 * 256.0 * CAST({_POW60} AS DOUBLE)")
    return (
        pairs.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .join(uz, ["source_a", "source_b"])
        .join(einter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "exact_a",
            "exact_b",
            F.coalesce(F.col("exact_inter"), F.lit(0).cast("bigint")).alias("exact_inter"),
            (F.col("exact_a") + F.col("exact_b") - F.coalesce(F.col("exact_inter"), F.lit(0)))
            .cast("bigint")
            .alias("exact_union"),
            F.floor(alpha_m2_p60 / F.col("zs_u").cast("double"))
            .cast("bigint")
            .alias("est_union"),
            F.floor(
                alpha_m2_p60
                * (
                    F.lit(1.0) / F.col("zs_a").cast("double")
                    + F.lit(1.0) / F.col("zs_b").cast("double")
                    - F.lit(1.0) / F.col("zs_u").cast("double")
                )
            )
            .cast("bigint")
            .alias("est_inter"),
        )
    )
