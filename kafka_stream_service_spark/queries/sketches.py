"""Probabilistic-sketch operators with cross-engine-exact portable
hashes: Count-Min heavy-hitter estimation, Bloom-filter membership,
HyperLogLog register construction, and signed feature hashing,
each DETERMINISTIC end-to-end (md5-derived bucket/bit positions, integer
counts) so the driver hash-verifies the full sketch algebra against
DuckDB — the same verification strategy as the portable MinHash/LSH/IVF
twins in dedup2.py.

Why sketches in a 100 TB engine: exact per-key state for heavy hitters
or membership is O(|keys|); these sketches are FIXED-SIZE (d*w counters,
m bits), mergeable across partitions with plain integer addition / OR —
i.e. they are map-side-combinable aggregation states that never grow
with the data, the canonical trade for streaming/huge-cardinality
telemetry. The queries also surface the error terms (CMS overestimate,
Bloom false positives) against exact ground truth computed alongside, so
the sketch-vs-exact contract itself is oracle-checked, not assumed.

Production note: for JVM-side throughput swap the md5 portable hash for
xxhash64 (same shapes, no cross-engine twin) — exactly the xxhash/md5
pairing the MinHash family documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Column

from ..operators.ranks import cpu_fanout
from ..plans.barrier import barrier
from ..tables import tables
from .dedup2 import _h_sql
from .registry import query


def _h(col: Column, seed_col: Column) -> Column:
    """portable_hash64 with a COLUMN seed (the exploded hash-row index),
    same construction as dedup2.portable_hash64 / _h_sql: first 15 hex
    chars of md5("<seed>:<value>") as a positive bigint."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(seed_col.cast("string"), F.lit(":"), col)), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
    )

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 256  # counters per row
CMS_TOP = 30  # heavy-hitter candidates reported

BLOOM_BITS = 4096
BLOOM_HASHES = 3
# blocklist = vocabulary of one source shard (deterministic, data-derived)
BLOOM_SRC = "src7"


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    return d.select("source", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") >= 1
    )


_CMS_ORACLE = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    wc AS (
      SELECT tok, COUNT(*) AS exact_count FROM toks
      WHERE length(tok) >= 1 GROUP BY tok
    ),
    cells AS (  -- token mass folded into d x w counters
      SELECT j, {_h_sql('tok', 'j')} % {CMS_WIDTH} AS bucket,
             SUM(exact_count) AS cell
      FROM wc, unnest(range(0, {CMS_DEPTH})) AS u(j)
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT tok, exact_count FROM wc
      ORDER BY exact_count DESC, tok ASC LIMIT 30
    ),
    est AS (
      SELECT c.tok, c.exact_count, MIN(cells.cell) AS cms_estimate
      FROM cand c, unnest(range(0, {CMS_DEPTH})) AS u(j)
      JOIN cells ON cells.j = u.j
                AND cells.bucket = {_h_sql('c.tok', 'u.j')} % {CMS_WIDTH}
      GROUP BY c.tok, c.exact_count
    )
    SELECT tok, CAST(exact_count AS BIGINT) AS exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overestimate
    FROM est
"""


@query(
    "q_countmin_heavy_hitters_portable",
    oracle=_CMS_ORACLE,
    tags=("sketch", "approx", "portable", "llm-data"),
)
def q_countmin_heavy_hitters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy-hitter estimation, hash-verified: fold the
    corpus token stream into a 4x256 counter grid
    (bucket = md5-portable hash mod width, one row per seed), then
    estimate the top-30 exact heavy hitters as min-over-rows of
    their cells and report the CMS overestimate against ground truth.
    The estimate >= exact invariant and the exact collision-driven
    overestimates are both inside the driver hash.

    Scale shape: exact counts pre-aggregate token occurrences BEFORE the
    d-way explode (vocabulary-sized, not corpus-sized); the sketch is
    1024 cells total — broadcastable, mergeable by
    addition, and sized independently of cardinality, which is the whole
    point: at 100 TB the grid still fits in a register file while exact
    counting holds |vocab| state. The candidate estimate join broadcasts
    the 30-row candidate set.
    """
    toks = _tokens(spark, sf_dir)
    wc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    wc = barrier(wc, "reuse")  # feeds cells + candidates

    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j")
    cells = (
        wc.select("tok", "exact_count", seeds)
        .select(
            "j",
            (_h(F.col("tok"), F.col("j")) % CMS_WIDTH).alias(
                "bucket"
            ),
            "exact_count",
        )
        .groupBy("j", "bucket")
        .agg(F.sum("exact_count").alias("cell"))
    )
    cand = wc.orderBy(F.col("exact_count").desc(), F.col("tok").asc()).limit(CMS_TOP)
    probes = cand.select("tok", "exact_count", seeds).select(
        "tok",
        "exact_count",
        "j",
        (_h(F.col("tok"), F.col("j")) % CMS_WIDTH).alias(
            "bucket"
        ),
    )
    est = (
        F.broadcast(probes)
        .join(cells, ["j", "bucket"])
        .groupBy("tok", "exact_count")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    return est.select(
        "tok",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("exact_count")).cast("bigint").alias("overestimate"),
    )


_BLOOM_ORACLE = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (SELECT DISTINCT tok FROM toks WHERE length(tok) >= 1),
    blocklist AS (
      SELECT DISTINCT tok FROM toks WHERE source = '{BLOOM_SRC}' AND length(tok) >= 1
    ),
    bits AS (
      SELECT DISTINCT {_h_sql('tok', 'j')} % {BLOOM_BITS} AS pos
      FROM blocklist, unnest(range(0, {BLOOM_HASHES})) AS u(j)
    ),
    probe_pos AS (  -- positions materialized first: DuckDB cannot plan a
                    -- non-inner join whose ON recomputes the correlated hash
      SELECT v.tok, {_h_sql('v.tok', 'j')} % {BLOOM_BITS} AS pos
      FROM vocab v, unnest(range(0, {BLOOM_HASHES})) AS u(j)
    ),
    probe AS (
      SELECT p.tok, COUNT(b.pos) = {BLOOM_HASHES} AS hit
      FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST((SELECT COUNT(*) FROM blocklist) AS BIGINT) AS n_members,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(COUNT(*) FILTER (WHERE hit) AS BIGINT) AS n_hits,
           CAST(COUNT(*) FILTER (WHERE hit AND tok NOT IN (SELECT tok FROM blocklist))
                AS BIGINT) AS n_false_positives
    FROM probe
"""


@query(
    "q_bloom_filter_audit_portable",
    oracle=_BLOOM_ORACLE,
    tags=("sketch", "approx", "portable", "llm-data"),
)
def q_bloom_filter_audit_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit, hash-verified: build a
    4096-bit / 3-hash Bloom filter over one source
    shard's vocabulary (the "blocklist" — think URL/domain blocklists or
    contaminated-benchmark vocab), probe the FULL corpus vocabulary
    through it, and report hit/false-positive counts against exact
    membership. No-false-negatives is structural; the false-POSITIVE
    count is data-dependent and lands in the driver hash, so the
    bit-collision behavior itself is verified, not just the happy path.

    Scale shape: the filter is 4096 bits regardless of corpus
    size — the build is a distinct-agg to <= 4096 bit-position
    rows (broadcast to every probe task, exactly how a blocklist Bloom
    ships with a 1000-executor filter stage); the probe is a broadcast
    join per hash + an all-bits-present group check, map-side combined.
    The exact-membership comparison (the expensive anti-join) exists
    only to audit the sketch and is skipped in production probes.
    """
    toks = barrier(_tokens(spark, sf_dir), "reuse")
    vocab = barrier(toks.select("tok").distinct(), "reuse")
    blocklist = barrier(
        toks.filter(F.col("source") == BLOOM_SRC).select("tok").distinct(), "reuse"
    )

    seeds = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_HASHES - 1))).alias("j")
    bits = (
        blocklist.select("tok", seeds)
        .select((_h(F.col("tok"), F.col("j")) % BLOOM_BITS).alias("pos"))
        .distinct()
    )
    probe_pos = vocab.select("tok", seeds).select(
        "tok",
        "j",
        (_h(F.col("tok"), F.col("j")) % BLOOM_BITS).alias("pos"),
    )
    hits = (
        probe_pos.join(F.broadcast(bits), "pos", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .filter(F.col("n_set") == BLOOM_HASHES)
        .select("tok")
    )
    false_pos = hits.join(blocklist, "tok", "left_anti")

    counts = (
        vocab.agg(F.count(F.lit(1)).alias("n_probed"))
        .crossJoin(blocklist.agg(F.count(F.lit(1)).alias("n_members")))
        .crossJoin(bits.agg(F.count(F.lit(1)).alias("n_bits_set")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .crossJoin(false_pos.agg(F.count(F.lit(1)).alias("n_false_positives")))
    )
    return counts.select(
        *[F.col(c).cast("bigint").alias(c) for c in
          ["n_probed", "n_members", "n_bits_set", "n_hits", "n_false_positives"]]
    )


HLL_BUCKETS = 256  # 2^8 registers


_HLL_ORACLE = f"""
    WITH t AS (  -- word BIGRAMS: the unigram vocab is ~31 words in the
                 -- fixture, far too small to exercise 256 registers
      SELECT string_split(text, ' ') AS w FROM documents
    ),
    toks AS (
      SELECT w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS tok
      FROM t, unnest(range(1, len(w))) AS u(i)
    ),
    vocab AS (SELECT DISTINCT tok FROM toks WHERE length(tok) >= 3),
    h AS (
      SELECT tok, {_h_sql('tok', '0')} AS hv FROM vocab
    ),
    reg AS (
      SELECT hv % {HLL_BUCKETS} AS bucket, hv // {HLL_BUCKETS} AS v FROM h
    ),
    rho AS (  -- leading-zero rank inside the remaining 52-bit field:
              -- bin() strips leading zeros in both engines, so
              -- rho = 53 - len(bin(v)), with the all-zeros special case
      SELECT bucket,
             CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END AS r
      FROM reg
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MAX(r) AS BIGINT) AS max_rho,
           CAST(COUNT(*) AS BIGINT) AS n_vals
    FROM rho GROUP BY bucket
"""


@query(
    "q_hll_registers_portable",
    oracle=_HLL_ORACLE,
    tags=("sketch", "approx", "portable", "llm-data"),
)
def q_hll_registers_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog REGISTER construction, hash-verified: hash the corpus
    vocabulary with the portable md5 hash, route each value to one of
    256 registers by its low byte, and keep per-register the maximum
    leading-zero rank (rho) of the remaining 52-bit field — the entire
    mergeable state of an HLL distinct-count sketch, in pure integers.
    The float estimation step (alpha * m^2 / sum(2^-rho), plus
    linear-counting below 2.5m) is a 256-row driver-side formula left
    OUT of the query so the whole verified surface stays integer-exact;
    per-register true value counts ride along as ground truth.
    bin() strips leading zeros identically in both engines, so
    rho = 53 - len(bin(v)) is the cross-engine leading-zero count.

    Scale shape: the register array is the canonical distributed
    distinct-count state — 256 max() cells, merged across partitions by
    elementwise max (map-side combined here), constant size at any
    cardinality; Spark's own approx_count_distinct carries exactly this
    state (q_approx_aggregates verifies its bounds), this query verifies
    the ALGEBRA of the state itself cross-engine.
    """
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    w = d.select(F.split("text", " ").alias("w"))
    toks = w.select(
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i-1], w[i]))")
        ).alias("tok")
    ).filter(F.length("tok") >= 3)
    vocab = toks.select("tok").distinct()
    h = vocab.select(_h(F.col("tok"), F.lit(0)).alias("hv"))
    reg = h.select(
        (F.col("hv") % HLL_BUCKETS).alias("bucket"),
        F.expr(f"hv DIV {HLL_BUCKETS}").alias("v"),
    )
    rho = reg.select(
        "bucket",
        F.when(F.col("v") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(F.col("v"))))
        .alias("r"),
    )
    return rho.groupBy("bucket").agg(
        F.max("r").cast("bigint").alias("max_rho"),
        F.count(F.lit(1)).cast("bigint").alias("n_vals"),
    ).select(F.col("bucket").cast("bigint").alias("bucket"), "max_rho", "n_vals")


FH_DIMS = 64  # hashed feature space


_FH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    wc AS (
      SELECT doc_id, tok, COUNT(*) AS cnt FROM toks
      WHERE length(tok) >= 1 GROUP BY doc_id, tok
    ),
    hashed AS (
      SELECT doc_id,
             {_h_sql('tok', '0')} % {FH_DIMS} AS dim,
             CASE WHEN {_h_sql('tok', '1')} % 2 = 0 THEN cnt ELSE -cnt END AS w
      FROM wc
    )
    SELECT doc_id, CAST(dim AS INT) AS dim, CAST(SUM(w) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, dim
    HAVING SUM(w) != 0
"""


@query(
    "q_feature_hashing",
    oracle=_FH_ORACLE,
    tags=("sketch", "featurization", "portable", "llm-data"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED feature hashing (the Weinberger et al. hashing trick /
    HashingTF with sign correction): map each document's bag-of-words
    into a fixed 64-dim sparse vector — dimension = portable hash of the
    token, sign = an independent hash bit so colliding tokens cancel in
    expectation instead of biasing upward. Emits the sparse (doc, dim,
    weight) triples with exact cancellation (zero cells dropped on both
    engines), so hash-collision arithmetic itself is driver-verified.

    Scale shape: featurization is pure map-side (per-doc token counts →
    hashed dims → one (doc, dim)-keyed combine); the output schema is
    FIXED-WIDTH regardless of vocabulary, which is why the hashing trick
    is the standard way to featurize unbounded vocabularies for linear
    models / GBDTs at corpus scale — no vocabulary dictionary to build,
    ship, or keep consistent across 1000 executors.
    """
    d = cpu_fanout(tables(spark, sf_dir)["documents"])
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 1)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hashed = wc.select(
        "doc_id",
        (_h(F.col("tok"), F.lit(0)) % FH_DIMS).cast("int").alias("dim"),
        F.when(_h(F.col("tok"), F.lit(1)) % 2 == 0, F.col("cnt"))
        .otherwise(-F.col("cnt"))
        .alias("w"),
    )
    return (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("w").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )
