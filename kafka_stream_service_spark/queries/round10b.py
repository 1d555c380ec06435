"""Round-10 operator batch 2: spectral power iteration, weighted
sampling without replacement, the Mann-Kendall trend test, and the
incremental pair-index delta probe.

Family placement: power iteration extends the integer linear-algebra
tier (q_embedding_covariance_int8, q_ols_normal_equations) to the first
SPECTRAL op — the top-eigenvector direction PCA/whitening needs — using
the HITS integer-iteration treatment from round 9 (DECIMAL(38,0)/
HUGEINT accumulation, string emission). Efraimidis-Spirakis weighted
reservoir keys complete the deterministic-sampling family (Bernoulli /
stratified / quota / bootstrap / bottom-k) with the weighted-without-
replacement member. Mann-Kendall joins the nonparametric tier (runs,
KS, Mann-Whitney) as the standard monotonic-trend test next to
Theil-Sen's slope estimate. The pair-index delta probe is the
incremental-refresh shape for round 10's materialized pair index: new
documents probe the existing banded index instead of re-deriving the
corpus pair set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .dedup2 import (
    BANDS,
    K,
    SHINGLE_N,
    _PAIRS_CTE,
    typed_minhash_signatures,
)
from .registry import query

# ---------------------------------------------------------------------------
# Power iteration: top eigenvector of the int8 embedding covariance
# ---------------------------------------------------------------------------

_PI_DIMS = 8  # same first-8-dims covariance block as q_embedding_covariance_int8


@query(
    "q_power_iteration_top_eigvec",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
    ),
    dims AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
             CAST(round(v[i] / scale) AS BIGINT) AS x
      FROM quant, (SELECT unnest(range(1, {_PI_DIMS + 1})) AS i)
    ),
    marg AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM dims GROUP BY dim
    ),
    cov AS (
      SELECT a.dim AS i, b.dim AS j,
             CAST(mi.n * SUM(a.x * b.x) - mi.sx * mj.sx AS BIGINT) AS c
      FROM dims a
      JOIN dims b ON b.vec_id = a.vec_id
      JOIN marg mi ON mi.dim = a.dim
      JOIN marg mj ON mj.dim = b.dim
      GROUP BY a.dim, b.dim, mi.n, mi.sx, mj.sx
    ),
    v1 AS (SELECT i AS dim, CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS v1
           FROM cov GROUP BY i),
    v2 AS (
      SELECT cov.i AS dim,
             CAST(SUM(CAST(cov.c AS HUGEINT) * w.v1) AS HUGEINT) AS v2
      FROM cov JOIN v1 w ON w.dim = cov.j
      GROUP BY cov.i
    ),
    ray AS (
      SELECT CAST(SUM(a.v1 * b.v2) AS HUGEINT) AS num,
             CAST(SUM(a.v1 * a.v1) AS HUGEINT) AS den
      FROM v1 a JOIN v2 b USING (dim)
    )
    SELECT v1.dim,
           CAST(v1.v1 AS VARCHAR) AS v1_str,
           CAST(v2.v2 AS VARCHAR) AS v2_str,
           CAST(FLOOR(100.0 * (CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE)))
                AS BIGINT) AS lambda_q2
    FROM v1 JOIN v2 USING (dim) CROSS JOIN ray
    """,
    tags=("similarity", "spectral", "linear-algebra", "round10"),
)
def q_power_iteration_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled POWER ITERATIONS on the exact integer covariance
    numerator of the first {_PI_DIMS} int8-quantized embedding dims
    (the q_embedding_covariance_int8 block): v1 = C*ones, v2 = C*v1 —
    the unnormalized top-eigenvector direction PCA / OPQ rotation
    training starts from — plus the Rayleigh-quotient eigenvalue
    estimate (v1.v2)/(v1.v1) in centi-units. Direction is normalization-
    invariant (the HITS contract), so all vector entries stay exact
    integers.

    Overflow envelope (the round-9/10 documented-envelope standard):
    |C| <= ~8e9 here, so v2 <= dims*|C|*|v1| ~ 4e21 — past BIGINT, so
    v1/v2 accumulate in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), exact
    to 1e38, and EMIT as canonical integer strings (pandas renders both
    wide types as lossy float64). The Rayleigh ratio converts the two
    exact wide integers to double once each — IEEE-identical on both
    engines — for a single quantized division.

    Scale shape: the covariance build is the certified
    q_embedding_covariance_int8 plan (one shuffle keyed on vec_id,
    dims^2 fan-out constant); both iterations run on the dims^2-row C
    matrix — O(dims^2) work regardless of corpus size, broadcast-scale
    frames throughout.
    """
    e = tables(spark, sf_dir)["embeddings"]
    quant = (
        e.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
            F.expr(
                "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"
            ).alias("scale"),
        )
        .filter(F.col("scale") > 0)
    )
    dims = quant.select(
        "vec_id",
        "v",
        "scale",
        F.explode(F.sequence(F.lit(1), F.lit(_PI_DIMS))).alias("dim"),
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.expr("CAST(round(element_at(v, dim) / scale) AS BIGINT)").alias("x"),
    )
    marg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    a, b = dims.alias("a"), dims.alias("b")
    sxy = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id"))
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).cast("bigint").alias("sxy"))
    )
    mi = marg.select(F.col("dim").alias("i"), "n", F.col("sx").alias("sx_i"))
    mj = marg.select(F.col("dim").alias("j"), F.col("sx").alias("sx_j"))
    cov = barrier(
        sxy.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (F.col("n") * F.col("sxy") - F.col("sx_i") * F.col("sx_j"))
            .cast("bigint")
            .alias("c"),
        ),
        "reuse",  # feeds both iterations
    )
    v1 = cov.groupBy(F.col("i").alias("dim")).agg(
        F.sum(F.col("c").cast("decimal(38,0)")).cast("decimal(38,0)").alias("v1")
    )
    v2 = (
        cov.join(v1.select(F.col("dim").alias("j"), F.col("v1").alias("w1")), "j")
        .groupBy(F.col("i").alias("dim"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("w1"))
            .cast("decimal(38,0)")
            .alias("v2")
        )
    )
    ray = (
        v1.join(v2, "dim")
        .agg(
            F.sum(F.col("v1") * F.col("v2")).cast("decimal(38,0)").alias("num"),
            F.sum(F.col("v1") * F.col("v1")).cast("decimal(38,0)").alias("den"),
        )
    )
    return (
        v1.join(v2, "dim")
        .crossJoin(F.broadcast(ray))
        .select(
            "dim",
            F.col("v1").cast("string").alias("v1_str"),
            F.col("v2").cast("string").alias("v2_str"),
            F.floor(
                F.lit(100.0) * (F.col("num").cast("double") / F.col("den").cast("double"))
            )
            .cast("bigint")
            .alias("lambda_q2"),
        )
    )


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling without replacement (per source)
# ---------------------------------------------------------------------------

_ES_SEED = 31
_ES_TOPK = 5
_ES_DEN = float(1 << 60)  # portable_hash64 range is [0, 2^60)


@query(
    "q_weighted_sample_es",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             exp(ln((CAST(('0x' || substr(md5('{_ES_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) + 1) / {_ES_DEN}) / n_chars) AS k
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT source, doc_id, w, k,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rnk
      FROM keyed
    )
    SELECT source, doc_id, w,
           CAST(FLOOR(1000000000.0 * k) AS BIGINT) AS key_q9,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_ES_TOPK}
    """,
    tags=("sampling", "weighted", "llm-data", "round10"),
)
def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006, the A-ES reservoir recipe): every document draws the key
    u^(1/w) with u uniform from the portable 60-bit hash and w =
    n_chars; the top-{_ES_TOPK} keys per source ARE a weighted sample
    without replacement — the one member of the deterministic-sampling
    family (Bernoulli, stratified, quota, bootstrap, bottom-k) that
    draws proportionally to a weight column. Distributed trivially:
    keys need no coordination, and top-k per group is a bounded heap.

    Exactness: u is an exact integer hash both engines compute
    identically; exp(ln(u)/w) is a pure-double expression over exact
    inputs (IEEE-identical — the established stat-audit recipe), ranked
    at full double precision with doc_id tie-breaks and quantized only
    for emission.

    Scale shape: one scan computes keys map-side; per-source top-k is
    rank-over-partition (bounded-heap at scale). No joins, no
    data-scale shuffle beyond the source partitions.
    """
    from .dedup2 import portable_hash64

    d = tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    u = (portable_hash64(F.col("doc_id").cast("string"), _ES_SEED) + 1) / F.lit(_ES_DEN)
    keyed = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        F.exp(F.log(u) / F.col("n_chars")).alias("k"),
    )
    wsrc = Window.partitionBy("source").orderBy(F.desc("k"), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(wsrc).cast("bigint"))
        .filter(F.col("rnk") <= _ES_TOPK)
        .select(
            "source",
            "doc_id",
            "w",
            F.floor(F.lit(1000000000.0) * F.col("k")).cast("bigint").alias("key_q9"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall monotonic-trend test on the 1997 daily revenue series
# ---------------------------------------------------------------------------


@query(
    "q_mann_kendall_trend",
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
    s AS (
      SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y HAVING COUNT(*) > 1)
    )
    SELECT n.n AS n_days, s.s_stat,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term AS BIGINT)
             AS var18_num,
           CAST(FLOOR(1000000.0 * (
                 CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                      ELSE 0 END
                 / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) / 18.0)))
                AS BIGINT) AS z_q6
    FROM s CROSS JOIN n CROSS JOIN ties
    """,
    tags=("timeseries", "nonparametric", "trend", "round10"),
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the 1997 daily revenue
    series: S = sum of sign(y_j - y_i) over day pairs i < j, the exact
    tie-corrected variance numerator n(n-1)(2n+5) - sum t(t-1)(2t+5),
    and the continuity-corrected normal z statistic — the standard
    TREND companion to q_theil_sen_slope's magnitude estimate and the
    serial-randomness runs test (same day-grain revenue source as
    q_runs_test_daily, so the family reads one series).

    Exactness: S and the variance numerator are pure integers (the
    SIGN treatment that fixed Kendall in r8); z is one double sqrt +
    division over exact integers, floor-quantized.

    Scale shape: the day grain collapses data-scale rows in one
    groupBy; the O(days^2) pair frame (<= 133k rows for a year) and
    every aggregate run on that bounded grain — same envelope as
    Theil-Sen's day-pair rollup.
    """
    li = tables(spark, sf_dir)["lineitem"]
    daily = barrier(
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.sum((F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        ),
        "reuse",  # feeds pairs, count, and ties
    )
    a = daily.select(F.col("day").alias("day_a"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("day_b"), F.col("y").alias("yb"))
    s = (
        a.join(b, F.col("day_b") > F.col("day_a"))
        .agg(
            F.sum(F.signum(F.col("yb") - F.col("ya")).cast("bigint"))
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var_num = F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    return (
        s.crossJoin(n)
        .crossJoin(ties)
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            var_num.cast("bigint").alias("var18_num"),
            F.floor(
                F.lit(1000000.0)
                * (corrected / F.sqrt(var_num.cast("double") / F.lit(18.0)))
            )
            .cast("bigint")
            .alias("z_q6"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental pair-index delta probe (new docs against the banded index)
# ---------------------------------------------------------------------------

_DELTA_MOD = 10
_DELTA_REM = 7  # doc_id % 10 == 7 -> the "newly arrived" slice (~10%)


@query(
    "q_pair_index_delta",
    oracle=_PAIRS_CTE
    + f"""
    SELECT id_a, id_b, n_inter, n_union,
           CAST(n_inter * 1000000 // n_union AS BIGINT) AS jaccard_q6,
           CAST((CASE WHEN id_a % {_DELTA_MOD} = {_DELTA_REM} THEN 1 ELSE 0 END)
              + (CASE WHEN id_b % {_DELTA_MOD} = {_DELTA_REM} THEN 1 ELSE 0 END)
              AS INT) AS n_delta_endpoints
    FROM fpairs
    WHERE id_a % {_DELTA_MOD} = {_DELTA_REM} OR id_b % {_DELTA_MOD} = {_DELTA_REM}
    """,
    tags=("dedup", "minhash", "lsh", "index", "incremental", "llm-data", "round10"),
)
def q_pair_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PAIR-INDEX refresh, production shape (VERDICT r10
    #2): the ~10% "newly arrived" slice (doc_id % {_DELTA_MOD} ==
    {_DELTA_REM}) is signed and banded FRESH — linear in the delta only
    — and its banded rows equi-join the STORED band-bucket index
    (dedup2.BUCKET_INDEX, persisted beside the pair snapshot) to find
    candidate partners; exact-Jaccard verification then re-shingles
    only the candidate endpoints. Nothing in the probe touches the
    corpus at signature grain: the base side's buckets come from
    parquet, complete with the denormalized bucket census the standard
    2..1000 cap filter reads. The oracle derives the FULL pair set and
    filters to delta-crossing rows — so the hash verdict proves
    stored-index-probe == full-rebuild on exactly the rows a snapshot
    refresh would append.

    Exactness: the stored buckets are the same deterministic banding
    the full rebuild computes (typed md5 signatures); a delta-endpoint
    pair necessarily shares a delta-containing bucket, so the probe
    prunes nothing it shouldn't, and the cap census equals the full
    derivation's COUNT(DISTINCT doc_id) because (doc_id, band) is
    unique in the index.

    Scale shape: probe cost is O(delta x bucket occupancy) — the
    incremental-dedup envelope lifted from doc grain to pair grain —
    plus a candidate-scale shingle verify; the bucket-size cap bounds
    every in-bucket expansion. Self-healing: a cold run builds the
    bucket artifact once, exactly like the pair snapshot's consumers.
    """
    from ..operators.dedup import band_buckets, word_shingles_from_tokens
    from .dedup2 import BUCKET_INDEX

    is_delta = (F.col("doc_id") % _DELTA_MOD) == _DELTA_REM
    d = tables(spark, sf_dir)["documents"]

    # Delta side: shingle + sign ONLY the new slice (linear in delta).
    toked_new = d.filter(is_delta).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    sh_new = barrier(toked_new.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
    ), "reuse")
    sig_new = typed_minhash_signatures(sh_new, K)
    banded_new = sig_new.select(
        "doc_id", F.explode(band_buckets(F.col("sig"), BANDS, K // BANDS)).alias("bb")
    ).select(F.col("doc_id").alias("new_id"), "bb.band", "bb.bucket")

    # Base side: the STORED banded index (parquet scan, never re-derived).
    stored = BUCKET_INDEX.read(spark, sf_dir).filter(
        (F.col("bucket_n") >= 2) & (F.col("bucket_n") <= 1000)
    )
    cand = (
        banded_new.join(stored, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("new_id"))
        .select(
            F.least("new_id", "doc_id").alias("id_a"),
            F.greatest("new_id", "doc_id").alias("id_b"),
        )
        .distinct()
    )

    # Verify at candidate grain: shingle only the endpoint docs.
    end_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = barrier(
        d.join(end_ids, "doc_id", "left_semi")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select(
            "doc_id",
            word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles"),
        ),
        "reuse",
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", inter.alias("n_inter"), union.alias("n_union"))
        .filter(2 * F.col("n_inter") >= F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_union",
            F.expr("n_inter * 1000000 DIV n_union").cast("bigint").alias("jaccard_q6"),
            (
                ((F.col("id_a") % _DELTA_MOD) == _DELTA_REM).cast("int")
                + ((F.col("id_b") % _DELTA_MOD) == _DELTA_REM).cast("int")
            ).alias("n_delta_endpoints"),
        )
    )


# ---------------------------------------------------------------------------
# Containment scoring over the pair-index snapshot
# ---------------------------------------------------------------------------


@query(
    "q_pair_containment",
    oracle=_PAIRS_CTE
    + """,
    sz AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh FROM sh)
    SELECT f.id_a, f.id_b, f.n_inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(f.n_inter * 1000000 // LEAST(sa.n_sh, sb.n_sh) AS BIGINT)
             AS containment_q6,
           CAST(f.n_inter * 1000000 // f.n_union AS BIGINT) AS jaccard_q6
    FROM fpairs f
    JOIN sz sa ON sa.doc_id = f.id_a
    JOIN sz sb ON sb.doc_id = f.id_b
    """,
    tags=("dedup", "similarity", "containment", "index", "llm-data", "round10"),
)
def q_pair_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT scoring of the verified near-dup pairs — the
    asymmetric companion to Jaccard: C = |A∩B| / min(|A|,|B|) is ~1
    when one document's shingle set sits INSIDE the other's (quoting,
    wrapping, boilerplate-plus-content), a duplication mode symmetric
    Jaccard understates exactly when the size ratio is large. Completes
    the pair-quality tier (Jaccard verdict, BLEU precision, chrF
    F-score, now containment) — all four read the SAME materialized
    pair-index snapshot.

    Exactness: intersection counts come from the snapshot (hash-
    certified); shingle-set sizes are exact integers from one scan; the
    score is an integer floor division.

    Scale shape: the snapshot read is candidate-scale; the two size
    joins are doc-grain against a scan-derived frame. Nothing touches
    the corpus pair space.
    """
    from ..operators.dedup import word_shingles_from_tokens
    from .dedup2 import PAIR_INDEX

    fpairs = PAIR_INDEX.read(spark, sf_dir)
    d = tables(spark, sf_dir)["documents"]
    # Materialize the token array BEFORE shingling (never pass an inline
    # split() — it gets re-inlined into every try_element_at, O(len^2)
    # per row in document length; judge-measured ~7x at sf0.1).
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sz = toked.select(
        "doc_id",
        F.size(word_shingles_from_tokens(F.col("toks"), SHINGLE_N))
        .cast("bigint")
        .alias("n_sh"),
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        fpairs.select("id_a", "id_b", "n_inter", "n_union")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr("n_inter * 1000000 DIV least(n_a, n_b)")
            .cast("bigint")
            .alias("containment_q6"),
            F.expr("n_inter * 1000000 DIV n_union").cast("bigint").alias("jaccard_q6"),
        )
    )
