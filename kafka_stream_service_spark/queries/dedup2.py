"""PORTABLE-HASH variants of the near-dup stack, closing the oracle gap.

The production MinHash/SimHash operators (operators/dedup.py) hash with
xxhash64/blake2b — fast, but with no DuckDB equivalent, so their queries
carry rows-only driver verdicts (bounded by recall/bit-vote pytests).
These variants swap ONE ingredient — the hash — for an engine-portable
construction, ``portable_hash64(s, seed) = int(md5(seed:s)[:15 hex])``,
which both engines compute bit-identically. Everything downstream
(signatures, banding, bucket pairs, Jaccard verification, connected
components) then carries a full driver HASH verdict, including the
connected-components fixpoint checked against a recursive-CTE oracle.

The algorithms are IDENTICAL to the production path (same banding, same
bucket cap, same verify threshold); only the hash differs — so these
queries are the cross-engine correctness proof of the pipeline SHAPE,
while the xxhash64 path remains the production-throughput configuration
(one 64-bit mix vs an md5 per shingle per permutation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import lsh_candidate_pairs, word_shingles_from_tokens
from ..operators.graph import connected_components
from ..operators.ranks import data_sized_partitions
from ..plans.barrier import barrier
from ..tables import tables
from .registry import query
from .stored import StoredIndex

K = 16
BANDS = 4
SHINGLE_N = 3

def portable_hash64(col: Column, seed: int) -> Column:
    """60-bit hash both engines compute identically: the first 15 hex
    chars of md5("<seed>:<value>") as a (positive) bigint. ~16x slower
    than xxhash64 JVM-side — the price of cross-engine verifiability."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10)
        .cast("bigint")
    )


def portable_minhash_signature(shingles: Column, k: int = K) -> Column:
    """Per-row expression form of the portable MinHash signature —
    bit-identical to ``typed_minhash_signatures`` over the same shingle
    frame (pytest-pinned). The per-seed lambda MUST be single-parameter:
    a ``lambda s, i=i`` default-arg binding reads as a TWO-ARG lambda to
    PySpark's higher-order ``transform``, which then passes the array
    POSITION as the second argument — silently replacing the seed with
    a Column whose repr leaks into the hash prefix (found fixing the
    r11 streaming probe; the bug was dormant while every batch caller
    used the typed form)."""

    def _min_hash(seed: int) -> Column:
        assert isinstance(seed, int)  # a Column here would repr into the md5
        return F.array_min(F.transform(shingles, lambda s: portable_hash64(s, seed)))

    return F.array(*[_min_hash(i) for i in range(k)])


def typed_minhash_signatures(sh: DataFrame, k: int = K) -> DataFrame:
    """(doc_id, sig) with signatures BIT-IDENTICAL to
    portable_minhash_signature over the same shingle frame, but the md5s
    run once per DISTINCT shingle TYPE instead of once per (doc,
    shingle) instance: explode -> hash the type dictionary -> join back
    -> per-doc mins. The fixture has ~10x more instances than types
    (260k vs 27k at sf0.1), and a real crawl repeats shingles far more —
    portable-md5 signing was ~70% of every LSH query's wall (SCALE.md
    r8 note), so this is the shared fix rather than per-query
    block-scoping. At 100 TB the type dictionary joins back by
    shuffle-hash join instead of broadcast; signature values (and every
    downstream bucket, candidate, and verified pair) are unchanged.

    At fixture scale the type dictionary is a few hundred KB that costs
    16 md5s per row, so AQE's byte-sized coalescing would fold it onto
    one task. The distinct keeps its map-side partial aggregate (only
    per-partition distinct shingles cross its shuffle); an explicit-count
    round-robin exchange after it then spreads the distinct types evenly
    over as many md5 tasks as the input warrants (AQE never coalesces a
    repartition by number). A hash exchange on ``s`` would not do: when
    its count equals the shuffle-partition count it is planned away as a
    copy of the distinct's own partitioning, which AQE does coalesce."""
    inst = sh.select("doc_id", F.explode("shingles").alias("s"))
    n = data_sized_partitions(inst)
    hashed = inst.select("s").distinct().repartition(n).select(
        "s", *[portable_hash64(F.col("s"), i).alias(f"__h{i}") for i in range(k)]
    )
    mins = inst.join(hashed, "s").groupBy("doc_id").agg(
        *[F.min(f"__h{i}").alias(f"__h{i}") for i in range(k)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"__h{i}") for i in range(k)]).alias("sig")
    )


def _h_sql(s: str, seed: str) -> str:
    return f"CAST(('0x' || substr(md5(CAST({seed} AS VARCHAR) || ':' || {s}), 1, 15)) AS BIGINT)"


# shared oracle prefix: shingles -> signatures -> banded buckets ->
# candidate pairs -> Jaccard-verified near-dup pairs
_PAIRS_CTE = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - {SHINGLE_N}, 0) + 1),
               i -> array_to_string(list_slice(toks, i + 1, i + {SHINGLE_N}), ' ')
             )) AS shingles
      FROM t
    ),
    sig AS (
      SELECT doc_id, shingles,
             list_transform(range(0, {K}),
               i -> list_min(list_transform(shingles, s -> {_h_sql('s', 'i')}))) AS sig
      FROM sh
    ),
    banded AS (
      SELECT doc_id, b AS band,
             array_to_string(list_transform(range(b * {K // BANDS} + 1, (b + 1) * {K // BANDS} + 1),
                                            r -> CAST(sig[r] AS VARCHAR)), ',') AS bucket
      FROM sig, unnest(range(0, {BANDS})) AS u(b)
    ),
    g AS (
      SELECT band, bucket, list_sort(list(DISTINCT doc_id)) AS ids
      FROM banded GROUP BY 1, 2
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1000
    ),
    cpairs AS (
      SELECT DISTINCT ids[i] AS id_a, ids[j] AS id_b
      FROM g, unnest(range(1, len(ids) + 1)) AS ai(i),
               unnest(range(1, len(ids) + 1)) AS bj(j)
      WHERE i < j
    ),
    jpairs AS (
      SELECT p.id_a, p.id_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS n_inter,
             len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)) AS n_union
      FROM cpairs p
      JOIN sh sa ON sa.doc_id = p.id_a
      JOIN sh sb ON sb.doc_id = p.id_b
    ),
    fpairs AS (
      SELECT id_a, id_b, n_inter, n_union FROM jpairs WHERE 2 * n_inter >= n_union
    )"""


def _verified_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(sh, fpairs): shingle frame and Jaccard-verified candidate pairs,
    both lineage-truncated (sh feeds the signature AND two verify joins;
    pairs feed downstream fan-outs)."""
    d = tables(spark, sf_dir)["documents"]
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = barrier(toked.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
    ), "reuse")
    sig = typed_minhash_signatures(sh, K)
    cand = lsh_candidate_pairs(sig, sig_col="sig", k=K, bands=BANDS)
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    fpairs = barrier(
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", inter.alias("n_inter"), union.alias("n_union"))
        .filter(2 * F.col("n_inter") >= F.col("n_union")),
        "reuse",
    )
    return sh, fpairs


# ---------------------------------------------------------------------------
# Stored pair and band-bucket indexes (VERDICT r9 #1, r10 #2): pair
# discovery runs once per corpus snapshot and consumers read the pairs,
# the production 100-TB shape; incremental probes join a new slice's
# banded rows against the STORED buckets instead of re-deriving corpus
# signatures per invocation.
# ---------------------------------------------------------------------------


def _bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus banded LSH table as (band, bucket, doc_id,
    bucket_n): one row per (doc, band), with the bucket's distinct-doc
    census denormalized onto every member row so a probe can apply the
    standard 2..cap bucket filter without touching any row outside the
    buckets it joins.

    This is the index half of the production incremental shape: pair
    discovery for NEW documents is banded-slice-join-stored-buckets, so
    its cost is O(delta x bucket occupancy) regardless of corpus size."""
    from pyspark.sql import Window

    from ..operators.dedup import band_buckets

    d = tables(spark, sf_dir)["documents"]
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = toked.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
    )
    sig = typed_minhash_signatures(sh, K)
    banded = sig.select(
        "doc_id", F.explode(band_buckets(F.col("sig"), BANDS, K // BANDS)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    # (doc_id, band) is unique, so a plain count over the bucket window
    # IS the distinct-doc census.
    return banded.withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band", "bucket")).cast("int"),
    )


# The revision token changes whenever the pair derivation (shingling, K,
# BANDS, hash, verify threshold) does. Pairs are sorted by (id_a, id_b)
# for zone maps on both keys; buckets by (band, bucket) for the probe's
# equi-join.
PAIR_INDEX = StoredIndex(
    tag="pair_index",
    rev=f"r1k{K}b{BANDS}n{SHINGLE_N}",
    source="documents",
    derive=lambda spark, sf_dir: (_verified_pairs(spark, sf_dir)[1], ("id_a", "id_b")),
)
BUCKET_INDEX = StoredIndex(
    tag="pair_index",
    rev=PAIR_INDEX.rev,
    source="documents",
    suffix="_buckets",
    derive=lambda spark, sf_dir: (_bucket_census(spark, sf_dir), ("band", "bucket")),
)


@query(
    "q_pair_index_snapshot",
    oracle=_PAIRS_CTE
    + """
    SELECT id_a, id_b, n_inter, n_union,
           CAST(n_inter * 1000000 // n_union AS BIGINT) AS jaccard_q6
    FROM fpairs
    """,
    tags=("dedup", "minhash", "lsh", "index", "snapshot", "llm-data", "round10"),
)
def q_pair_index_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD the materialized pair-index snapshot (VERDICT r9 #1): the
    full banded-LSH discovery + exact-Jaccard verify pipeline runs once
    and lands as a keyed parquet pair table; the returned frame is the
    READ-BACK of the written artifact, so the driver's hash verdict
    certifies the entire build->persist->read cycle against the same
    recursive-CTE oracle the live path uses. Every timed invocation
    REBUILDS (this row is the honest index-build cost — there is no
    cross-query memoization; consumers simply read the artifact).

    This is the production 100-TB pipeline shape: pair discovery is
    index-once-per-corpus-snapshot, and the pair consumers
    (q_bleu_ngram_precision, q_chrf_pair_fscore, the cluster audit)
    read the snapshot instead of re-deriving the shared ~5 s discovery
    prefix per query (stage-split pinned in SCALE.md r9).

    Scale shape: identical to q_minhash_lsh_portable's banded plan
    (typed signatures, bucket equi-join, never doc x doc) plus one
    candidate-scale parquet write, sorted by (id_a, id_b) for zone-map
    pruning in consumers.
    """
    built = PAIR_INDEX.build(spark, sf_dir)
    return built.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        F.expr("n_inter * 1000000 DIV n_union").cast("bigint").alias("jaccard_q6"),
    )


@query(
    "q_minhash_lsh_portable",
    oracle=_PAIRS_CTE
    + """
    SELECT id_a, id_b, n_inter, n_union,
           round(CAST(n_inter AS DOUBLE) / n_union, 6) AS jaccard
    FROM fpairs
    """,
    tags=("dedup", "minhash", "lsh", "llm-data"),
)
def q_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash->LSH->verify near-dup pair set with a hard hash
    verdict: portable 60-bit hashes, 16-permutation signatures, 4-band
    bucketing with the production bucket cap, candidate pairs, and exact
    Jaccard verification at >= 0.5 (the integer comparison
    2*|A∩B| >= |A∪B| — no float threshold). Reads the pair-index
    SNAPSHOT (building it if absent): with the index first-class, the
    catalog keeps exactly ONE honest full-build row
    (q_pair_index_snapshot) and every other pair query is a consumer
    (VERDICT r10 #5). The oracle re-derives the pipeline live, so this
    row's hash verdict still certifies snapshot == full derivation."""
    fpairs = PAIR_INDEX.read(spark, sf_dir)
    return fpairs.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        F.round(F.col("n_inter").cast("double") / F.col("n_union"), 6).alias("jaccard"),
    )


@query(
    "q_dedup_clusters_portable",
    oracle=_PAIRS_CTE
    + """,
    sym AS (
      SELECT id_a AS a, id_b AS b FROM fpairs
      UNION SELECT id_b, id_a FROM fpairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION SELECT a, a FROM sym
      UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster
    FROM reach GROUP BY a
    """,
    tags=("dedup", "graph", "clusters", "llm-data"),
)
def q_dedup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS with a hard hash verdict: distributed min-label
    propagation (operators/graph.py — the same iterative operator the
    production path uses) over the verified portable-hash pairs, checked
    against a recursive-CTE transitive-closure oracle. The driver hash
    match proves the iterative fixpoint is EXACTLY the graph-theoretic
    components — the strongest correctness statement available for the
    clusters family. Reads the pair-index SNAPSHOT (building it if
    absent) — the index-once-consumers-read shape (VERDICT r9 #1);
    the oracle re-derives the pairs live, so the hash verdict also
    certifies snapshot == live derivation."""
    fpairs = PAIR_INDEX.read(spark, sf_dir)
    edges = fpairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components(edges, max_iter=30)
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster"))


@query(
    "q_simhash_portable",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
    ),
    th AS (
      SELECT doc_id, {_h_sql('u.tok', '99')} AS h
      FROM t, unnest(toks) AS u(tok)
    ),
    votes AS (
      SELECT doc_id,
             {", ".join(f"SUM(2 * ((h // {2 ** k}) % 2) - 1) AS v{k}" for k in range(16))},
             COUNT(*) AS n_tokens
      FROM th GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN v{k} > 0 THEN {2 ** k} ELSE 0 END)" for k in range(16))}
                AS BIGINT) AS fingerprint,
           n_tokens
    FROM votes
    """,
    tags=("dedup", "simhash", "llm-data"),
)
def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints with a hard hash verdict: per-token
    portable hashes, per-bit majority votes (strict > 0, ties -> 0), the
    exact construction the production 64-bit numpy path uses — here every
    vote and the final fingerprint are integer-reproducible on both
    engines. One explode + one grouped sum; no shuffle beyond the doc
    rollup."""
    d = tables(spark, sf_dir)["documents"]
    th = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).select("doc_id", portable_hash64(F.col("tok"), 99).alias("h"))
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(2 * (F.shiftright(F.col("h"), k) % 2) - 1).alias(f"v{k}")
            for k in range(16)
        ],
        F.count(F.lit(1)).alias("n_tokens"),
    )
    fp = None
    for k in range(16):
        term = F.when(F.col(f"v{k}") > 0, F.lit(2**k)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("bigint").alias("fingerprint"), "n_tokens")
