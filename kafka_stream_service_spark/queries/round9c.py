"""Round-9 operator batch 3: Welch's t-test (+ Cohen's d), HITS
hub/authority scoring, and iterative BPE merge TRAINING.

Family placement: Welch's unequal-variance t-test is the parametric
two-sample test the stats tier lacked (KS and Mann-Whitney are its
nonparametric siblings; ANOVA generalizes to k groups but assumes equal
variances). HITS (Kleinberg 1999) adds directed hub/authority
centrality to the graph tier next to PageRank candidates and label
propagation. BPE training closes the tokenizer loop:
q_bpe_merge_candidates mines ONE round of candidates,
q_bpe_apply_merges applies a trained list — this TRAINS the list, three
greedy rounds of best-pair selection + merge (Sennrich et al. 2016).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .registry import query

# ---------------------------------------------------------------------------
# Welch's t-test + Cohen's d over order-status groups
# ---------------------------------------------------------------------------


@query(
    "q_welch_ttest",
    oracle="""
    WITH x AS (
      SELECT o_orderstatus AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    m AS (  -- ONE conditional aggregation: both groups' moments in one scan
      SELECT CAST(SUM(CASE WHEN grp = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             SUM(CASE WHEN grp = 'F' THEN CAST(v AS HUGEINT) END) AS s1,
             SUM(CASE WHEN grp = 'O' THEN CAST(v AS HUGEINT) END) AS s2,
             SUM(CASE WHEN grp = 'F'
                 THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END) AS q1,
             SUM(CASE WHEN grp = 'O'
                 THEN CAST(v AS HUGEINT) * CAST(v AS HUGEINT) END) AS q2
      FROM x
    ),
    w AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 AS m1,
             CAST(s2 AS DOUBLE) / n2 AS m2,
             (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * (n1 - 1.0)) AS v1,
             (CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
               / (CAST(n2 AS DOUBLE) * (n2 - 1.0)) AS v2
      FROM m
    )
    SELECT n1, n2,
           CAST(FLOOR(m1 * 100.0) AS BIGINT) AS mean1_q2,
           CAST(FLOOR(m2 * 100.0) AS BIGINT) AS mean2_q2,
           CAST(FLOOR(1000000.0 * (
             (m1 - m2) / sqrt(v1 / n1 + v2 / n2)
           )) AS BIGINT) AS t_q6,
           CAST(FLOOR(1000000.0 * (
             (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1.0)
                + (v2 / n2) * (v2 / n2) / (n2 - 1.0))
           )) AS BIGINT) AS df_q6,
           CAST(FLOOR(1000000.0 * (
             (m1 - m2) / sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2)
                              / (n1 + n2 - 2.0))
           )) AS BIGINT) AS cohens_d_q6
    FROM w
    """,
    tags=("stats", "hypothesis-test", "round9"),
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (plus Welch-Satterthwaite degrees
    of freedom and Cohen's d effect size) comparing order totals between
    'F' and 'O' order-status populations — the parametric two-sample
    test completing the family around q_ks_two_sample / q_mannwhitney_u
    / q_anova_oneway.

    Exactness: group moments are exact integer cents sums — S in
    HUGEINT/DECIMAL(38,0) and Q = sum(v^2) likewise (v^2 ~ 2.5e15 at
    fixture prices; BIGINT would overflow past ~3.7k rows, the
    q_spearman_rho wide-moment recipe) — and the t/df/d values are one
    fixed double expression tree over those integers (sample variance
    via the n-scaled identity (n*Q - S^2)/(n*(n-1))). Wide integers cast
    to double round identically on both engines (correctly-rounded
    nearest), the same contract q_spearman_rho ships under.

    Scale shape: ONE conditional aggregation produces all six moments in
    a single scan (no per-group branch, no join, no second scan);
    everything after is scalar algebra on a 1-row frame. The statistic
    costs one map-side-combined pass at any SF.
    """
    o = tables(spark, sf_dir)["orders"]
    x = o.filter(F.col("o_orderstatus").isin("F", "O")).select(
        F.col("o_orderstatus").alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    vd = F.col("v").cast("decimal(38,0)")
    is_f, is_o = F.col("grp") == "F", F.col("grp") == "O"
    m = x.agg(
        F.sum(F.when(is_f, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(is_o, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(is_f, vd)).cast("decimal(38,0)").alias("s1"),
        F.sum(F.when(is_o, vd)).cast("decimal(38,0)").alias("s2"),
        F.sum(F.when(is_f, vd * vd)).cast("decimal(38,0)").alias("q1"),
        F.sum(F.when(is_o, vd * vd)).cast("decimal(38,0)").alias("q2"),
    )
    w = m.select(
        "n1",
        "n2",
        (F.col("s1").cast("double") / F.col("n1")).alias("m1"),
        (F.col("s2").cast("double") / F.col("n2")).alias("m2"),
        (
            (
                F.col("n1").cast("double") * F.col("q1").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double")
            )
            / (F.col("n1").cast("double") * (F.col("n1") - F.lit(1.0)))
        ).alias("v1"),
        (
            (
                F.col("n2").cast("double") * F.col("q2").cast("double")
                - F.col("s2").cast("double") * F.col("s2").cast("double")
            )
            / (F.col("n2").cast("double") * (F.col("n2") - F.lit(1.0)))
        ).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        "n1",
        "n2",
        F.floor(F.col("m1") * 100.0).cast("bigint").alias("mean1_q2"),
        F.floor(F.col("m2") * 100.0).cast("bigint").alias("mean2_q2"),
        F.floor(F.lit(1000000.0) * ((F.col("m1") - F.col("m2")) / F.sqrt(se2)))
        .cast("bigint")
        .alias("t_q6"),
        F.floor(
            F.lit(1000000.0)
            * (
                se2
                * se2
                / (
                    (F.col("v1") / F.col("n1"))
                    * (F.col("v1") / F.col("n1"))
                    / (F.col("n1") - F.lit(1.0))
                    + (F.col("v2") / F.col("n2"))
                    * (F.col("v2") / F.col("n2"))
                    / (F.col("n2") - F.lit(1.0))
                )
            )
        )
        .cast("bigint")
        .alias("df_q6"),
        F.floor(
            F.lit(1000000.0)
            * (
                (F.col("m1") - F.col("m2"))
                / F.sqrt(
                    (
                        (F.col("n1") - F.lit(1.0)) * F.col("v1")
                        + (F.col("n2") - F.lit(1.0)) * F.col("v2")
                    )
                    / (F.col("n1") + F.col("n2") - F.lit(2.0))
                )
            )
        )
        .cast("bigint")
        .alias("cohens_d_q6"),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities, two unrolled iterations (integer-exact)
# ---------------------------------------------------------------------------


@query(
    "q_hits_two_iterations",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT s, CAST(COUNT(*) AS HUGEINT) AS a1 FROM e GROUP BY s),
    h1 AS (
      SELECT e.c, CAST(SUM(a1.a1) AS HUGEINT) AS h1
      FROM e JOIN a1 ON a1.s = e.s GROUP BY e.c
    ),
    a2 AS (
      SELECT e.s, CAST(SUM(h1.h1) AS HUGEINT) AS a2
      FROM e JOIN h1 ON h1.c = e.c GROUP BY e.s
    ),
    h2 AS (
      SELECT e.c, CAST(SUM(a2.a2) AS HUGEINT) AS h2
      FROM e JOIN a2 ON a2.s = e.s GROUP BY e.c
    ),
    tops AS (
      SELECT 'authority' AS role, CAST(a1.s AS BIGINT) AS entity_id,
             a1.a1 AS score1, a2.a2 AS score2,
             ROW_NUMBER() OVER (ORDER BY a2.a2 DESC, a1.s) AS rnk
      FROM a1 JOIN a2 ON a2.s = a1.s
      UNION ALL
      SELECT 'hub', CAST(h1.c AS BIGINT), h1.h1, h2.h2,
             ROW_NUMBER() OVER (ORDER BY h2.h2 DESC, h1.c)
      FROM h1 JOIN h2 ON h2.c = h1.c
    )
    SELECT role, entity_id,
           CAST(score1 AS VARCHAR) AS score1_str,
           CAST(score2 AS VARCHAR) AS score2_str,
           CAST(rnk AS BIGINT) AS rnk
    FROM tops WHERE rnk <= 15
    """,
    tags=("graph", "centrality", "round9"),
)
def q_hits_two_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scoring (Kleinberg 1999), two unrolled
    iterations over the directed customer->supplier trade graph
    (distinct (custkey, suppkey) edges via orders x lineitem): a1 =
    in-degree, h1 = sum of neighbor authorities, a2 = sum of pointing
    hubs, h2 likewise — UNNORMALIZED, so every score is an exact integer
    (normalization only rescales; ranking is invariant, stated in the
    contract) — with the top 15 of each role by the second-iteration
    score.

    Overflow envelope (ADVICE r9): unnormalized scores grow
    multiplicatively per half-iteration — with max degree D, h2 is
    bounded by D^4 — so BIGINT accumulation wraps silently (Spark,
    non-ANSI) vs raises (DuckDB) once D passes ~55k, a realistic hub
    degree on power-law graphs. Scores therefore accumulate in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact to 1e38, i.e.
    D < ~1.8e9, beyond any real graph — and are EMITTED as canonical
    integer strings (score1_str/score2_str): pandas renders HUGEINT and
    wide DECIMAL as lossy float64, so strings are the only exact
    cross-engine carrier past 2^63. Ranking happens on the numeric
    values before stringification.

    Scale shape: each half-iteration is one edge-table join against the
    previous score vector plus a key-partitioned groupBy —
    map-side-combinable, the same per-round envelope as
    q_label_propagation; k iterations = 2k hash joins, no driver
    participation. Top-k per role is a 2-partition window over the
    score-vector grain (entity counts, not edges).
    """
    o = tables(spark, sf_dir)["orders"].select("o_orderkey", "o_custkey")
    li = tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_suppkey")
    e = barrier(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct(),
        "reuse",  # feeds all four half-iterations
    )
    a1 = e.groupBy("s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("a1")
    )
    h1 = (
        e.join(a1, "s")
        .groupBy("c")
        .agg(F.sum("a1").cast("decimal(38,0)").alias("h1"))
    )
    a2 = (
        e.join(h1, "c")
        .groupBy("s")
        .agg(F.sum("h1").cast("decimal(38,0)").alias("a2"))
    )
    h2 = (
        e.join(a2, "s")
        .groupBy("c")
        .agg(F.sum("a2").cast("decimal(38,0)").alias("h2"))
    )
    auth = (
        a1.join(a2, "s")
        .select(
            F.lit("authority").alias("role"),
            F.col("s").cast("bigint").alias("entity_id"),
            F.col("a1").alias("score1"),
            F.col("a2").alias("score2"),
        )
    )
    hubs = (
        h1.join(h2, "c")
        .select(
            F.lit("hub").alias("role"),
            F.col("c").cast("bigint").alias("entity_id"),
            F.col("h1").alias("score1"),
            F.col("h2").alias("score2"),
        )
    )
    wrole = Window.partitionBy("role").orderBy(F.desc("score2"), "entity_id")
    return (
        auth.unionAll(hubs)
        .withColumn("rnk", F.row_number().over(wrole).cast("bigint"))
        .filter(F.col("rnk") <= 15)
        .select(
            "role",
            "entity_id",
            F.col("score1").cast("string").alias("score1_str"),
            F.col("score2").cast("string").alias("score2_str"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training: three greedy best-pair rounds (Sennrich et al. 2016)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3

# SQL fragment: frequency-weighted adjacent-pair counts from a
# '|'-delimited state column. Pair extraction is zip-adjacent over the
# symbol list (overlapping occurrences each count — the reference BPE
# counting convention); the merge application below is two passes of
# leftmost-non-overlapping replacement (the q_bpe_apply_merges
# contract), identical on both engines.


def _duck_pairs(state_cte: str) -> str:
    return f"""
      SELECT sym[CAST(i AS INT)] AS x, sym[CAST(i AS INT) + 1] AS y,
             CAST(SUM(freq) AS BIGINT) AS c
      FROM (SELECT freq, list_filter(string_split(s, '|'), t -> t != '') AS sym
            FROM {state_cte}),
           unnest(range(1, len(sym))) AS u(i)
      GROUP BY 1, 2
    """


def _duck_apply(state_cte: str, best_cte: str) -> str:
    rep = f"'|' || (SELECT x FROM {best_cte}) || '|' || (SELECT y FROM {best_cte}) || '|'"
    out = f"'|' || (SELECT x FROM {best_cte}) || (SELECT y FROM {best_cte}) || '|'"
    return f"""
      SELECT w, freq, replace(replace(s, {rep}, {out}), {rep}, {out}) AS s
      FROM {state_cte}
    """


def _bpe_train_oracle() -> str:
    parts = [
        """
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY w),
    s0 AS MATERIALIZED (
      SELECT w, freq,
             '|' || array_to_string(string_split_regex(w, ''), '|') || '|' AS s
      FROM wf
    )"""
    ]
    selects = []
    for r in range(1, _BPE_ROUNDS + 1):
        prev = f"s{r - 1}"
        parts.append(f", p{r} AS MATERIALIZED ({_duck_pairs(prev)})")
        parts.append(
            f", b{r} AS MATERIALIZED (SELECT x, y, c FROM p{r} ORDER BY c DESC, x, y LIMIT 1)"
        )
        parts.append(f", s{r} AS MATERIALIZED ({_duck_apply(prev, f'b{r}')})")
        selects.append(
            f"""
      SELECT {r} AS round, b{r}.x AS sym_x, b{r}.y AS sym_y,
             b{r}.c AS pair_count,
             (SELECT CAST(SUM(freq * (length(s) - length(replace(s, '|', '')) - 1))
                     AS BIGINT) FROM s{r}) AS corpus_tokens_after
      FROM b{r}"""
        )
    return "".join(parts) + " SELECT * FROM (" + " UNION ALL ".join(selects) + ")"


@query(
    "q_bpe_train_iterations",
    oracle=_bpe_train_oracle(),
    tags=("text", "tokenizer", "bpe", "llm-data", "iterative", "round9"),
)
def q_bpe_train_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING (Sennrich et al. 2016): three greedy rounds of
    (count frequency-weighted adjacent symbol pairs) -> (pick the most
    frequent pair, ties broken lexicographically) -> (merge it
    everywhere), reporting each round's winning pair, its count, and the
    corpus token count after the merge. Closes the tokenizer loop:
    q_bpe_merge_candidates mines one round, q_bpe_apply_merges applies a
    frozen list, this TRAINS the list.

    Contract shared by both engines, stated: pair counting is
    zip-adjacent over the symbol sequence (overlapping occurrences
    count); merging is two passes of leftmost-non-overlapping
    delimiter-aware replacement (the q_bpe_apply_merges contract). The
    Spark side selects each round's best pair with a driver-side 1-row
    pull (bounded by the round count, never data) and embeds it as a
    literal in the next round's replace; the oracle chains the same
    rounds as CTEs with scalar subqueries.

    Scale shape: training runs at the VOCABULARY grain (distinct words x
    frequency — the q_bpe_apply_merges reduction), so each round is one
    explode + one (x, y) groupBy over vocab-sized data however large the
    corpus; the state frame is lineage-truncated per round (the
    iterative-algorithm pattern, same as q_label_propagation).
    """
    d = tables(spark, sf_dir)["documents"]
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    state = barrier(wf.select(
        "w",
        "freq",
        F.concat(
            F.lit("|"), F.array_join(F.split(F.col("w"), ""), "|"), F.lit("|")
        ).alias("s"),
    ), "iterate", eager=True)
    out_rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            state.select(
                "freq", F.expr("filter(split(s, '\\\\|'), t -> t != '')").alias("sym")
            )
            .select(
                "freq",
                F.explode(
                    # CASE guard: Spark's sequence(1, 0) counts DOWN
                    # (single-symbol words would index out of bounds);
                    # DuckDB's range() is empty there by construction
                    F.expr(
                        "CASE WHEN size(sym) < 2 THEN array() "
                        "ELSE transform(sequence(1, size(sym) - 1), "
                        "i -> named_struct('x', sym[i - 1], 'y', sym[i])) END"
                    )
                ).alias("p"),
            )
            .select("freq", "p.x", "p.y")
            .groupBy("x", "y")
            .agg(F.sum("freq").cast("bigint").alias("c"))
        )
        best = pairs.orderBy(F.desc("c"), "x", "y").limit(1).collect()[0]
        pat = f"|{best.x}|{best.y}|"
        rep = f"|{best.x}{best.y}|"
        state = barrier(state.select(
            "w",
            "freq",
            F.replace(
                F.replace(F.col("s"), F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
            ).alias("s"),
        ), "iterate", eager=True)
        tokens_after = state.agg(
            F.sum(
                F.col("freq")
                * (
                    F.length("s")
                    - F.length(F.regexp_replace("s", "\\|", ""))
                    - 1
                )
            )
            .cast("bigint")
            .alias("t")
        ).collect()[0].t
        out_rows.append((r, best.x, best.y, int(best.c), int(tokens_after)))
    # literal result frame built JVM-side (spark.createDataFrame on a
    # Python list costs ~5 s/job in this container — measured, SCALE.md)
    structs = [
        F.struct(
            F.lit(r).cast("int").alias("round"),
            F.lit(x).alias("sym_x"),
            F.lit(y).alias("sym_y"),
            F.lit(c).cast("bigint").alias("pair_count"),
            F.lit(t).cast("bigint").alias("corpus_tokens_after"),
        )
        for (r, x, y, c, t) in out_rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
    )
