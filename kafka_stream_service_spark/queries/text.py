"""Text analysis for training-data pipelines (SURVEY.md §2.2 LLM-data ops):
tokenization, n-gram frequencies, quality scoring, language-ID heuristic,
document fingerprinting. All built-in expressions — row-parallel, no UDFs,
no shuffle except the explicit frequency group-bys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import vocabulary_fingerprint
from ..tables import tables
from .registry import query

# tiny per-language stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
    "fr": ["le", "la", "de", "et", "un"],
}


@query(
    "q_text_token_stats",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks, text FROM documents)
    SELECT doc_id, lang,
      len(toks) AS n_tokens,
      len(list_distinct(toks)) AS n_distinct_tokens,
      round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
      length(text) AS n_chars,
      round(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / nullif(length(text), 0), 6) AS space_ratio,
      round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_token_len
    FROM t
    """,
    tags=("text", "llm-data"),
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + type-token ratio + length stats per document."""
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    tok_lens = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6).alias("ttr"),
        F.length("text").alias("n_chars"),
        # try_divide: empty text has length 0 and must yield NULL, not an
        # ANSI DIVIDE_BY_ZERO crash (oracle: nullif denominator)
        F.round(
            F.try_divide(
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                ).cast("double"),
                F.length("text"),
            ),
            6,
        ).alias("space_ratio"),
        F.round(tok_lens.cast("double") / F.size(toks), 6).alias("avg_token_len"),
    )


@query(
    "q_text_wordcount",
    oracle="""
    SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(*) >= 100
    """,
    tags=("text", "wordcount", "llm-data"),
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word count (the canonical explode -> groupBy): token
    frequencies and document frequencies."""
    d = tables(spark, sf_dir)["documents"]
    return (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n") >= 100)
    )


@query(
    "q_text_bigrams",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE lang = 'en'),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t WHERE len(toks) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg
    GROUP BY bigram
    HAVING COUNT(*) >= 20
    """,
    tags=("text", "ngram", "llm-data"),
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequencies over the English slice of the corpus."""
    d = tables(spark, sf_dir)["documents"].filter(F.col("lang") == "en")
    # token array materialized in its own projection (an inline split()
    # would be re-inlined into each element_at — O(len^2) per row)
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i.cast("int")), F.element_at(toks, (i + 1).cast("int"))
        ),
    )
    return (
        t.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


def _stopword_ratio(toks: F.Column, words: list[str]) -> F.Column:
    return F.size(F.filter(toks, lambda t: t.isin(words))).cast("double") / F.size(toks)


@query(
    "q_text_quality_score",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks, text FROM documents)
    SELECT doc_id, lang,
      round(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
      round(CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks), 6) AS short_token_ratio,
      round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS diversity,
      (len(toks) BETWEEN 50 AND 1000) AS length_ok,
      CASE WHEN len(toks) BETWEEN 50 AND 1000
            AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.05
           THEN 'keep' ELSE 'drop' END AS verdict
    FROM t
    """,
    tags=("text", "quality", "llm-data"),
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring (stopword / short-token /
    diversity ratios + a keep/drop verdict) — the pre-training filter
    pattern."""
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    diversity = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    length_ok = F.size(toks).between(50, 1000)
    return d.select(
        "doc_id",
        "lang",
        F.round(_stopword_ratio(toks, STOPWORDS["en"]), 6).alias("stopword_ratio"),
        F.round(
            F.size(F.filter(toks, lambda t: F.length(t) <= 2)).cast("double") / F.size(toks), 6
        ).alias("short_token_ratio"),
        F.round(diversity, 6).alias("diversity"),
        length_ok.alias("length_ok"),
        F.when(length_ok & (diversity > 0.05), "keep").otherwise("drop").alias("verdict"),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(toks) AS s_en,
        CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ein'], x))) AS DOUBLE) / len(toks) AS s_de,
        CAST(len(list_filter(toks, x -> list_contains(['el','la','de','y','un'], x))) AS DOUBLE) / len(toks) AS s_es,
        CAST(len(list_filter(toks, x -> list_contains(['le','la','de','et','un'], x))) AS DOUBLE) / len(toks) AS s_fr
      FROM t
    )
    SELECT doc_id, lang,
      CASE WHEN greatest(s_en, s_de, s_es, s_fr) < 0.01 THEN 'und'
           WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
           WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
           WHEN s_es >= s_fr THEN 'es'
           ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
    tags=("text", "langid", "llm-data"),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification (n-gram heuristic tier).

    Ties break by the fixed priority en > de > es > fr in both engines.
    """
    d = tables(spark, sf_dir)["documents"]
    toks = F.split(F.col("text"), " ")
    s = {k: _stopword_ratio(toks, v) for k, v in STOPWORDS.items()}
    pred = (
        F.when(F.greatest(s["en"], s["de"], s["es"], s["fr"]) < 0.01, "und")
        .when(s["en"] >= F.greatest(s["de"], s["es"], s["fr"]), "en")
        .when(s["de"] >= F.greatest(s["es"], s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return d.select("doc_id", "lang", pred.alias("predicted_lang"))


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
      md5(text) AS exact_hash,
      sha256(substr(text, 1, 64)) AS head_hash
    FROM documents
    """,
    tags=("text", "fingerprint", "llm-data"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: content hash, sorted-vocabulary fingerprint
    (word-order-insensitive), and head hash — md5/sha256 are identical
    across engines, so fingerprints are portable."""
    d = tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        vocabulary_fingerprint(F.col("text")).alias("fingerprint"),
        F.md5(F.col("text")).alias("exact_hash"),
        F.sha2(F.substring(F.col("text"), 1, 64), 256).alias("head_hash"),
    )


@query(
    "q_lang_source_profile",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(doc_id) AS min_doc_id
    FROM documents
    WHERE lang IN ('en', 'de', 'fr')
    GROUP BY lang, source
    """,
    tags=("text", "agg", "llm-data"),
)
def q_lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language filter + per (lang, source) corpus profile."""
    d = tables(spark, sf_dir)["documents"]
    return (
        d.filter(F.col("lang").isin("en", "de", "fr"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
      FROM t, UNNEST(range(1, len(toks))) AS u(i)),
    tg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
      FROM t, UNNEST(range(1, len(toks)-1)) AS u(i)),
    bic AS (SELECT doc_id, gram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    tic AS (SELECT doc_id, gram, COUNT(*) AS c FROM tg GROUP BY 1, 2),
    bia AS (SELECT doc_id, SUM(c) AS total, MAX(c) AS top,
                   SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
            FROM bic GROUP BY 1),
    tia AS (SELECT doc_id, SUM(c) AS total,
                   SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
            FROM tic GROUP BY 1)
    SELECT b.doc_id,
           CAST(b.total AS BIGINT) AS n_bigrams,
           round(b.top / b.total, 6) AS top_bigram_frac,
           round(b.dup / b.total, 6) AS dup_bigram_frac,
           round(g.dup / g.total, 6) AS dup_trigram_frac
    FROM bia b LEFT JOIN tia g USING (doc_id)
    """,
    tags=("text", "quality", "llm-data", "repetition"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style occurrence-fraction repetition signals: per document,
    the fraction of word-bigram OCCURRENCES contributed by the single most
    frequent bigram, and the fraction contributed by any repeated
    bi-/trigram. NOTE: Gopher's published filters (Rae et al. 2021, A1.1)
    measure CHARACTER-coverage fractions, a correlated but different
    quantity — see q_text_repetition_charcov for the paper-faithful
    variant; thresholds from the paper do not transfer to these
    occurrence fractions. High
    values flag boilerplate and degenerate generations for corpus
    filtering. Two explode->count->per-doc-reduce pipelines, all JVM
    expressions; the group-bys shuffle on doc_id so both reduces and the
    final join co-partition — at 100 TB this is one repartition by
    doc_id reused across stages (AQE coalesces the tiny per-doc tail)."""
    from ..functions.text import ngrams, tokens

    d = tables(spark, sf_dir)["documents"].select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )

    def gram_stats(n: int, with_top: bool) -> DataFrame:
        g = d.select("doc_id", F.explode(ngrams(F.col("toks"), n)).alias("gram"))
        c = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
        aggs = [
            F.sum("c").alias("total"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
        ]
        if with_top:
            aggs.insert(1, F.max("c").alias("top"))
        return c.groupBy("doc_id").agg(*aggs)

    bi = gram_stats(2, with_top=True)
    tri = gram_stats(3, with_top=False).select(
        "doc_id", F.col("total").alias("t_total"), F.col("dup").alias("t_dup")
    )
    return bi.join(tri, "doc_id", "left").select(
        "doc_id",
        F.col("total").cast("bigint").alias("n_bigrams"),
        F.round(F.col("top") / F.col("total"), 6).alias("top_bigram_frac"),
        F.round(F.col("dup") / F.col("total"), 6).alias("dup_bigram_frac"),
        F.round(F.col("t_dup") / F.col("t_total"), 6).alias("dup_trigram_frac"),
    )


def _charcov_oracle() -> str:
    """Generated DuckDB SQL for q_text_repetition_charcov: one UNION ALL
    branch per n-gram order (2..10), mirroring the Spark union plan."""
    branches = []
    for n in range(2, 11):
        concat = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
        branches.append(
            f"SELECT doc_id, {n} AS n, unnest(list_transform("
            f"range(1, len(toks) - {n - 2}), i -> {concat})) AS gram "
            f"FROM t WHERE len(toks) >= {n}"
        )
    union = "\n      UNION ALL ".join(branches)
    top_cols = ",\n         ".join(
        f"MAX(CASE WHEN n = {k} THEN top_chars END) AS t{k}" for k in (2, 3, 4)
    )
    dup_cols = ",\n         ".join(
        f"MAX(CASE WHEN n = {k} THEN dup_chars END) AS d{k}" for k in range(5, 11)
    )

    def frac(src: str, alias: str) -> str:
        f = f"round(CAST({src} AS DOUBLE) / nullif(n_chars, 0), 6)"
        return f"CASE WHEN {f} > 1 THEN 1.0 ELSE {f} END AS {alias}"

    out_cols = ",\n      ".join(
        [frac(f"t{k}", f"top_{k}gram_char_frac") for k in (2, 3, 4)]
        + [frac(f"d{k}", f"dup_{k}gram_char_frac") for k in range(5, 11)]
    )
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS ({union}),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS c, length(gram) AS charlen
          FROM g GROUP BY 1, 2, 3),
    top AS (
      SELECT doc_id, n, c * charlen AS top_chars
      FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id, n ORDER BY c DESC, charlen DESC, gram) AS rn
            FROM c WHERE n <= 4)
      WHERE rn = 1),
    dup AS (
      SELECT doc_id, n, SUM(c * charlen) AS dup_chars
      FROM c WHERE n >= 5 AND c > 1 GROUP BY 1, 2),
    tp AS (SELECT doc_id, {top_cols} FROM top GROUP BY 1),
    dp AS (SELECT doc_id, {dup_cols} FROM dup GROUP BY 1)
    SELECT d.doc_id,
      {out_cols}
    FROM (SELECT doc_id, length(text) AS n_chars FROM documents) d
    LEFT JOIN tp USING (doc_id)
    LEFT JOIN dp USING (doc_id)
    """


@query(
    "q_text_repetition_charcov",
    oracle=_charcov_oracle(),
    tags=("text", "quality", "llm-data", "repetition", "gopher"),
)
def q_text_repetition_charcov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paper-faithful Gopher repetition filters (Rae et al. 2021, A1.1):
    per document, the fraction of CHARACTERS covered by the single most
    frequent word n-gram for n=2..4, and by duplicated n-grams for
    n=5..10. Character coverage is approximated as occurrences x gram
    char length (overlapping occurrences may double-count, so fractions
    are capped at 1.0); ties for "most frequent" break by (count desc,
    char length desc, gram asc) in both engines.

    Plan shape: ONE union of nine explode passes feeds a single
    groupBy(doc_id, n, gram) — every downstream reduce and the final
    joins hash on doc_id, so at 100 TB this is one exchange over the
    exploded grams plus doc_id-co-partitioned aggregates (AQE coalesces
    the small per-doc tails). No Python anywhere."""
    from ..functions.text import ngrams, tokens

    d = tables(spark, sf_dir)["documents"].select(
        "doc_id", F.length("text").alias("n_chars"), tokens(F.col("text")).alias("toks")
    )
    grams = None
    for n in range(2, 11):
        g = d.select("doc_id", F.lit(n).alias("n"), F.explode(ngrams(F.col("toks"), n)).alias("gram"))
        grams = g if grams is None else grams.unionAll(g)
    c = (
        grams.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("charlen", F.length("gram"))
    )
    w = Window.partitionBy("doc_id", "n").orderBy(
        F.col("c").desc(), F.col("charlen").desc(), F.col("gram")
    )
    top = (
        c.filter(F.col("n") <= 4)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n", (F.col("c") * F.col("charlen")).alias("top_chars"))
    )
    dup = (
        c.filter((F.col("n") >= 5) & (F.col("c") > 1))
        .groupBy("doc_id", "n")
        .agg(F.sum(F.col("c") * F.col("charlen")).alias("dup_chars"))
    )
    tp = top.groupBy("doc_id").agg(
        *[F.max(F.when(F.col("n") == k, F.col("top_chars"))).alias(f"t{k}") for k in (2, 3, 4)]
    )
    dp = dup.groupBy("doc_id").agg(
        *[F.max(F.when(F.col("n") == k, F.col("dup_chars"))).alias(f"d{k}") for k in range(5, 11)]
    )
    out = d.select("doc_id", "n_chars").join(tp, "doc_id", "left").join(dp, "doc_id", "left")

    def frac(x: F.Column, alias: str) -> F.Column:
        f = F.round(F.try_divide(x.cast("double"), F.nullif(F.col("n_chars"), F.lit(0))), 6)
        return F.when(f > 1, F.lit(1.0)).otherwise(f).alias(alias)

    return out.select(
        "doc_id",
        *[frac(F.col(f"t{k}"), f"top_{k}gram_char_frac") for k in (2, 3, 4)],
        *[frac(F.col(f"d{k}"), f"dup_{k}gram_char_frac") for k in range(5, 11)],
    )
