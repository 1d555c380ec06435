"""Round-7 operator batch 8: protobuf wire roundtrip, LSH recall audit
inside the oracle gate, and QQ drift points.

- q_proto_roundtrip gives the R8 payload format (protobuf, the encoding
  gRPC frames carry — StreamsApplication.java:179-190) a hard driver
  verdict without the protobuf package: pure-stdlib encoder/decoder
  (functions/proto_codec.py) with the wire SIZE recomputed column-side
  in both engines.
- q_lsh_recall_audit certifies the approximate tier's quality INSIDE
  the exact-oracle gate: portable-hash LSH candidates vs brute-force
  ground truth, confusion counts as integers.
- q_qq_points is the quantile-quantile companion to q_ks_two_sample:
  WHERE the distributions diverge, not just how much.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.proto_codec import decode_order, encode_order
from ..operators.dedup import lsh_candidate_pairs, word_shingles_from_tokens
from ..plans.barrier import barrier
from ..tables import tables
from .dedup2 import BANDS, K, SHINGLE_N, _PAIRS_CTE, typed_minhash_signatures
from .registry import query

# varint byte length for 0 <= x < 2^35, as the same CASE in both engines
_VARINT_LEN = (
    "CASE WHEN {x} < 128 THEN 1 WHEN {x} < 16384 THEN 2 "
    "WHEN {x} < 2097152 THEN 3 WHEN {x} < 268435456 THEN 4 ELSE 5 END"
)


@query(
    "q_proto_roundtrip",
    oracle=f"""
    WITH vals AS (
      SELECT o_orderkey AS order_id, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
             o_orderpriority AS priority
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT order_id, status, total_cents, priority,
           CAST(1 + {_VARINT_LEN.format(x='order_id')}
              + 1 + {_VARINT_LEN.format(x='length(status)')} + length(status)
              + 1 + {_VARINT_LEN.format(x='2 * total_cents')}
              + 1 + {_VARINT_LEN.format(x='length(priority)')} + length(priority)
             AS BIGINT) AS wire_len
    FROM vals
    """,
    tags=("codec", "protobuf", "round7"),
)
def q_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf wire-format roundtrip over REAL bytes: each order is
    encoded to proto3 wire format (varint tags, zigzag sint64 for the
    money field, length-delimited UTF-8 strings) by the pure-stdlib
    codec, then decoded back; the emitted wire_len is the actual byte
    count of the encoded buffer. The oracle recomputes every field AND
    the exact wire size from the spec's varint-length arithmetic — a
    codec that wastes a byte, mis-tags a field, or skips zigzag fails
    the hash. This is the payload-level parity for the gRPC hop
    (StreamsApplication.java:179-190; transport parity is h2grpc.py).

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle."""
    o = tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") < 2000)
    src = o.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_cents"),
        F.col("o_orderpriority").alias("priority"),
    )

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {
                k: [] for k in ("order_id", "status", "total_cents", "priority", "wire_len")
            }
            for oid, st, tc, pr in zip(
                pdf["order_id"], pdf["status"], pdf["total_cents"], pdf["priority"]
            ):
                buf = encode_order(int(oid), str(st), int(tc), str(pr))
                dec = decode_order(buf)
                out["order_id"].append(dec["order_id"])
                out["status"].append(dec["status"])
                out["total_cents"].append(dec["total_cents"])
                out["priority"].append(dec["priority"])
                out["wire_len"].append(len(buf))
            yield pd.DataFrame(out)

    return src.mapInPandas(
        roundtrip,
        schema="order_id long, status string, total_cents long, priority string, wire_len long",
    )


@query(
    "q_lsh_recall_audit",
    oracle=_PAIRS_CTE.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id < 1000)",
        1,
    )
    + """,
    cand AS (SELECT * FROM cpairs WHERE id_a % 4 = 1 OR id_b % 4 = 1),
    tp_pairs AS (SELECT * FROM fpairs WHERE id_a % 4 = 1 OR id_b % 4 = 1),
    ex AS (SELECT doc_id, shingles FROM sh WHERE doc_id < 1000),
    expl AS (SELECT DISTINCT doc_id, unnest(shingles) AS g FROM ex),
    explp AS (SELECT * FROM expl WHERE doc_id % 4 = 1),
    pairc AS (  -- probe-anchored pairs, one orientation per unordered pair
      SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
             GREATEST(a.doc_id, b.doc_id) AS id_b,
             COUNT(*) AS n_common
      FROM explp a JOIN expl b
        ON a.g = b.g AND a.doc_id <> b.doc_id
       AND (b.doc_id % 4 <> 1 OR a.doc_id < b.doc_id)
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT p.id_a, p.id_b
      FROM pairc p
      JOIN ex sa ON sa.doc_id = p.id_a
      JOIN ex sb ON sb.doc_id = p.id_b
      WHERE 2 * p.n_common >= len(sa.shingles) + len(sb.shingles) - p.n_common
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM tp_pairs) AS BIGINT) AS tp,
           CAST((SELECT COUNT(*) FROM cand) - (SELECT COUNT(*) FROM tp_pairs) AS BIGINT) AS fp,
           CAST((SELECT COUNT(*) FROM truth) - (SELECT COUNT(*) FROM tp_pairs) AS BIGINT) AS fn,
           CAST(CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0
                ELSE (SELECT COUNT(*) FROM tp_pairs) * 1000000
                     // (SELECT COUNT(*) FROM truth) END AS BIGINT) AS recall_q,
           CAST(CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN 0
                ELSE (SELECT COUNT(*) FROM tp_pairs) * 1000000
                     // (SELECT COUNT(*) FROM cand) END AS BIGINT) AS precision_q
    """,
    tags=("dedup", "lsh", "eval", "round7"),
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality certification INSIDE the exact-oracle gate: the
    portable-hash MinHash-LSH candidate pairs are scored against
    brute-force ground truth as integer confusion counts. Ground truth
    is PROBE-ANCHORED (VERDICT r7 #6): every pair with at least one
    endpoint in the deterministic probe subset (doc_id % 4 = 1 inside
    the audit block) and Jaccard >= 0.5, found via the lossless
    shared-shingle equi-join (a J >= 0.5 pair must share a shingle).
    Anchoring quarters the truth join's fan-in while the recall/precision
    statistic stays EXACT over the probe-anchored pair population — the
    estimator production dedup monitors (recall over sampled queries),
    not a lossy approximation of the old one. Until now the
    approximate tier's recall lived in pytest only; this row makes the
    driver hash itself assert "LSH finds tp/n_truth of the real
    near-dups with tp/n_candidates precision" every round.

    Scale shape: candidates come from the banded bucket groupBy (no
    all-pairs); ground truth is block-bounded (the audit runs on a
    sampled block at 100 TB — exactly how recall is monitored in
    production dedup)."""
    # the ENTIRE audit pipeline is block-scoped (signatures included):
    # the 16-permutation portable-md5 signatures were ~70% of this row's
    # wall time when computed corpus-wide only to have both pair
    # endpoints filtered into the block anyway (r8 measurement)
    d = tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 1000)
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    sh = barrier(toked.select(
        "doc_id", word_shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
    ), "reuse")
    sig = typed_minhash_signatures(sh, K)  # md5 per shingle TYPE (SCALE.md r9)
    cand = barrier(
        lsh_candidate_pairs(sig, sig_col="sig", k=K, bands=BANDS)
        .filter((F.col("id_a") % 4 == 1) | (F.col("id_b") % 4 == 1)),
        "reuse",
    )
    block = sh
    sa = block.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = block.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    tp_pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(2 * inter >= union)
    )
    ex = block.select("doc_id", F.explode(F.array_distinct("shingles")).alias("g"))
    exp_probe = ex.filter(F.col("doc_id") % 4 == 1)
    a, b = exp_probe.alias("a"), ex.alias("b")
    # probe side always on the left; if BOTH docs are probes keep only
    # the a<b orientation so each unordered pair counts its shared
    # shingles exactly once after least/greatest normalization
    pairc = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & ((F.col("b.doc_id") % 4 != 1) | (F.col("a.doc_id") < F.col("b.doc_id"))),
        )
        .groupBy(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    truth = (
        pairc.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(
            2 * F.col("n_common")
            >= F.size("sh_a") + F.size("sh_b") - F.col("n_common")
        )
    )
    counts = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        .crossJoin(F.broadcast(cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))))
        .crossJoin(F.broadcast(tp_pairs.agg(F.count(F.lit(1)).cast("bigint").alias("tp"))))
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "tp",
        (F.col("n_candidates") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("n_truth") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr("CASE WHEN n_truth = 0 THEN 0 ELSE tp * 1000000 DIV n_truth END")
        .cast("bigint")
        .alias("recall_q"),
        F.expr(
            "CASE WHEN n_candidates = 0 THEN 0 ELSE tp * 1000000 DIV n_candidates END"
        )
        .cast("bigint")
        .alias("precision_q"),
    )


@query(
    "q_qq_points",
    oracle="""
    WITH ev AS (
      SELECT event_type, value FROM events WHERE event_type IN ('click', 'error')
    ),
    g AS (
      SELECT event_type,
             percentile_disc(0.1) WITHIN GROUP (ORDER BY value) AS p10,
             percentile_disc(0.2) WITHIN GROUP (ORDER BY value) AS p20,
             percentile_disc(0.3) WITHIN GROUP (ORDER BY value) AS p30,
             percentile_disc(0.4) WITHIN GROUP (ORDER BY value) AS p40,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
             percentile_disc(0.6) WITHIN GROUP (ORDER BY value) AS p60,
             percentile_disc(0.7) WITHIN GROUP (ORDER BY value) AS p70,
             percentile_disc(0.8) WITHIN GROUP (ORDER BY value) AS p80,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90
      FROM ev GROUP BY event_type
    ),
    px AS (
      SELECT event_type, 10 AS pct, p10 AS v FROM g
      UNION ALL SELECT event_type, 20, p20 FROM g
      UNION ALL SELECT event_type, 30, p30 FROM g
      UNION ALL SELECT event_type, 40, p40 FROM g
      UNION ALL SELECT event_type, 50, p50 FROM g
      UNION ALL SELECT event_type, 60, p60 FROM g
      UNION ALL SELECT event_type, 70, p70 FROM g
      UNION ALL SELECT event_type, 80, p80 FROM g
      UNION ALL SELECT event_type, 90, p90 FROM g
    )
    SELECT CAST(pct AS INT) AS pct,
           MAX(CASE WHEN event_type = 'click' THEN v END) AS v_click,
           MAX(CASE WHEN event_type = 'error' THEN v END) AS v_error
    FROM px GROUP BY pct
    """,
    tags=("stats", "drift", "quantiles", "round7"),
)
def q_qq_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile points (deciles) between the 'click' and
    'error' value distributions — the localization companion to
    q_ks_two_sample: KS says HOW FAR the ECDFs diverge, the QQ curve
    says WHERE. percentile_disc picks actual data elements, so every
    emitted double is a real stored value and hashes exactly.

    Scale shape (r14 replan): the nine deciles per group come from the
    ranked-histogram operator (operators/ranks.group_exact_percentiles)
    — the old percentile_disc GROUP BY buffered HALF the corpus per
    reducer with these two groups; per-task state is now bounded by the
    2-dp value domain, never the corpus. The pivot stays a 9-row
    reshape."""
    from ..operators.ranks import group_exact_percentiles

    ev = tables(spark, sf_dir)["events"].filter(F.col("event_type").isin("click", "error"))
    ps = tuple(p / 10 for p in range(1, 10))
    g = group_exact_percentiles(
        ev.select("event_type", "value"), "event_type", "value", disc=ps
    )
    stack_args = ", ".join(f"{p}0, disc_{p}" for p in range(1, 10))
    stacked = g.select(
        "event_type", F.expr(f"stack(9, {stack_args}) AS (pct, v)")
    )
    return stacked.groupBy(F.col("pct").cast("int").alias("pct")).agg(
        F.max(F.when(F.col("event_type") == "click", F.col("v"))).alias("v_click"),
        F.max(F.when(F.col("event_type") == "error", F.col("v"))).alias("v_error"),
    )
