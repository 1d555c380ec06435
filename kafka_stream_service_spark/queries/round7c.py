"""Round-7 operator batch 3: graph link prediction and perceptual image
hashing.

- Neighbor-set Jaccard similarity (common-neighbor wedge join over the
  rare-shingle candidate graph): the link-prediction score behind
  "documents that SHOULD be near-dups but have no direct edge" — the
  recall-expansion step after LSH candidate generation.
- Average-hash (aHash) perceptual image fingerprinting over REAL decoded
  PNGs: 8x8 grid means thresholded against the global mean -> 64-bit
  hash. Pure integer cross-multiplication, so the DuckDB oracle can
  recompute the hash from the synthesized pixel definition and verify
  the whole decode -> hash pipeline bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.imagecodec import decode_png
from ..plans.barrier import barrier
from .graph_q import _EDGES_CTE, _candidate_edges
from .multimodal import _PIXEL_CTE, png_images_df
from .registry import query


@query(
    "q_jaccard_neighbors",
    oracle=_EDGES_CTE
    + """,
    adj AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
    wedge AS (
      SELECT a.src AS x, b.src AS y, COUNT(*) AS n_common
      FROM adj a JOIN adj b ON a.dst = b.dst AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT w.x, w.y, w.n_common,
           CAST(dx.deg AS BIGINT) AS deg_x, CAST(dy.deg AS BIGINT) AS deg_y,
           CAST(CASE WHEN e2.u IS NULL THEN 0 ELSE 1 END AS INT) AS is_adjacent,
           CAST(dx.deg + dy.deg - w.n_common AS BIGINT) AS jac_den
    FROM wedge w
    JOIN deg dx ON dx.src = w.x
    JOIN deg dy ON dy.src = w.y
    LEFT JOIN e e2 ON e2.u = w.x AND e2.v = w.y
    """,
    tags=("graph", "link-prediction", "round7"),
)
def q_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction over the rare-shingle
    candidate graph: for every vertex pair sharing at least one common
    neighbor, the exact similarity n_common / (deg_x + deg_y - n_common)
    as integer parts, plus whether the pair is already an edge —
    non-adjacent high-Jaccard pairs are the near-dup candidates the
    direct shingle pass MISSED (recall expansion by graph closure, the
    step after LSH in a production dedup stack).

    Scale shape: the wedge join pivots on the shared neighbor, so
    fan-out per vertex is its degree — bounded here by the rare-shingle
    DF cap (<= 4 docs/shingle), and bounded in general by the
    degree-orientation trick q_triangle_oriented already applies. All
    joins are key-partitioned; nothing is quadratic in |V|."""
    edges = barrier(_candidate_edges(spark, sf_dir), "reuse")
    adj = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a, b = adj.alias("a"), adj.alias("b")
    wedge = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("x"), F.col("b.src").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        wedge.join(deg.select(F.col("src").alias("x"), F.col("deg").alias("deg_x")), "x")
        .join(deg.select(F.col("src").alias("y"), F.col("deg").alias("deg_y")), "y")
        .join(
            edges.select(F.col("u").alias("x"), F.col("v").alias("y"), F.lit(1).alias("_e")),
            ["x", "y"],
            "left",
        )
    )
    return out.select(
        "x",
        "y",
        "n_common",
        F.col("deg_x").cast("bigint").alias("deg_x"),
        F.col("deg_y").cast("bigint").alias("deg_y"),
        F.coalesce("_e", F.lit(0)).cast("int").alias("is_adjacent"),
        (F.col("deg_x") + F.col("deg_y") - F.col("n_common"))
        .cast("bigint")
        .alias("jac_den"),
    )


@query(
    "q_image_ahash",
    oracle=_PIXEL_CTE.format(modulus=11)
    + """,
    ch0 AS (
      SELECT doc_id, w, h, (j // c) % w AS x, (j // c) // w AS y, v
      FROM px WHERE j % c = 0
    ),
    cells AS (
      SELECT doc_id, w, h,
             ((y * 8) // h) * 8 + ((x * 8) // w) AS idx,
             SUM(v) AS s, COUNT(*) AS m
      FROM ch0 GROUP BY 1, 2, 3, 4
    ),
    tot AS (SELECT doc_id, SUM(s) AS ts, SUM(m) AS tn FROM cells GROUP BY 1)
    SELECT c.doc_id,
           CAST(MAX(c.w) AS INT) AS width,
           CAST(MAX(c.h) AS INT) AS height,
           CAST(SUM(CASE WHEN c.s * t.tn > t.ts * c.m AND c.idx < 32
                         THEN CAST(1 AS BIGINT) << CAST(c.idx AS INT)
                         ELSE 0 END) AS BIGINT) AS hash_lo,
           CAST(SUM(CASE WHEN c.s * t.tn > t.ts * c.m AND c.idx >= 32
                         THEN CAST(1 AS BIGINT) << CAST(c.idx - 32 AS INT)
                         ELSE 0 END) AS BIGINT) AS hash_hi
    FROM cells c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id
    """,
    tags=("multimodal", "perceptual-hash", "dedup", "round7"),
)
def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprint (average hash): decode the real PNG
    (pure-stdlib codec), take channel 0, split into an 8x8 grid, and
    set bit (gy*8+gx) iff that cell's mean exceeds the image mean —
    compared as the integer cross-product cell_sum * total_count >
    total_sum * cell_count, so no float mean exists anywhere. The
    64-bit hash ships as two 32-bit halves (hash_hi, hash_lo) to stay
    inside signed BIGINT. Images whose hashes match (or differ by few
    bits, via the existing Hamming tooling over the halves) are
    visual near-duplicates — the image-dedup step of a multimodal
    training pipeline.

    The oracle recomputes the identical bits from the fixture's
    SQL-expressible pixel definition, so the driver hash certifies
    PNG decode -> grid -> threshold -> bit-pack end-to-end.

    Scale shape: mapInPandas (Arrow-batched) over the image partition
    fan-out png_images_df already applies; per-image work is O(pixels),
    the rollup emits one 4-int row per image. At 100 TB of images the
    hash table is the dedup join key — tiny relative to payload
    bytes."""
    images = png_images_df(spark, sf_dir, modulus=11)

    def ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "width", "height", "hash_lo", "hash_hi")
            }
            for did, png in zip(pdf["doc_id"], pdf["png"]):
                px = decode_png(bytes(png))
                ch0 = (px if px.ndim == 2 else px[:, :, 0]).astype(np.int64)
                h, w = ch0.shape
                gx = (np.arange(w, dtype=np.int64) * 8) // w
                gy = (np.arange(h, dtype=np.int64) * 8) // h
                idx = (gy[:, None] * 8 + gx[None, :]).ravel()
                s = np.bincount(idx, weights=ch0.ravel(), minlength=64).astype(
                    np.int64
                )
                m = np.bincount(idx, minlength=64).astype(np.int64)
                ts, tn = int(ch0.sum()), int(h * w)
                bits = s * tn > ts * m
                lo = int(sum(1 << i for i in range(32) if bits[i]))
                hi = int(sum(1 << (i - 32) for i in range(32, 64) if bits[i]))
                rows["doc_id"].append(int(did))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["hash_lo"].append(lo)
                rows["hash_hi"].append(hi)
            yield pd.DataFrame(rows)

    return images.mapInPandas(
        ahash_batches,
        schema="doc_id long, width int, height int, hash_lo long, hash_hi long",
    )
