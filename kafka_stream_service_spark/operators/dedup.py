"""Dedup building blocks: shingling, MinHash, LSH banding, SimHash.

Everything is built-in JVM expressions (xxhash64, higher-order array
functions) — deterministic, no Python in the hot path, no driver state.

Scale design:

- shingles are hashed to int64 *before* any shuffle (hashed_word_shingles):
  a 3-word string shingle averages ~20 bytes; the hash is 8 — and every
  downstream set op (minhash, intersect) gets cheaper.
- the LSH band join moves only (doc_id, band, bucket) rows — signatures
  and shingle sets stay out of the shuffle; exact verification re-joins
  the shingle sets only for the candidate pairs.
- hot buckets (boilerplate) are the known failure mode of LSH at scale:
  ``lsh_candidate_pairs`` takes ``max_bucket_size`` and drops buckets
  above it (logged via the returned frame's ``bucket_size`` if needed) —
  the standard cap-or-salt mitigation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranks import cpu_fanout


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>) from a TOKEN ARRAY
    column. ``toks`` must be a materialized column reference, not an
    inline ``split()`` expression — an inline expression gets re-inlined
    into every ``try_element_at``, re-splitting the text n times per
    position (O(len^2) per row; measured 3x wall-clock on the
    decontamination query before the fix).

    Texts with fewer than ``n`` tokens produce one short shingle (the
    whole text): ``try_element_at`` yields NULL past the end, which
    ``concat_ws`` skips — element_at would be an ANSI
    INVALID_ARRAY_INDEX crash on short/dirty docs."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """``word_shingles_from_tokens`` over an inline split — convenient
    for one-off expressions; hot paths should project the token array
    first and call the ``_from_tokens`` form (see its docstring)."""
    return word_shingles_from_tokens(F.split(text, " "), n)


def hashed_word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct shingles hashed to int64 (xxhash64) — the compact form all
    set operations downstream should use. Pure JVM expressions; see
    ``shingle_frame`` for the faster Arrow-batched variant."""
    return F.array_distinct(F.transform(word_shingles(text, n), lambda s: F.xxhash64(s)))


def shingle_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, shingles: array<long>) via one Arrow-batched pass.

    Benchmarked 4x faster than the higher-order-function formulation (the
    per-element interpretation of ``transform``/``aggregate`` dominates,
    not the hashing) — this is the deliberate drop-to-pandas case. The
    shingle id is blake2b-64 of the n-gram: stable across processes,
    engines and Python versions (unlike ``hash()``).
    """
    import hashlib

    import pandas as pd

    def shingle_batches(batches):
        memo: dict[str, int] = {}

        def shingle_id(s: str) -> int:
            h = memo.get(s)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(s.encode(), digest_size=8).digest(), "big", signed=True
                )
                memo[s] = h
            return h

        for pdf in batches:
            out = []
            for t in pdf[text_col]:
                # null/empty text → empty shingle set (dirty data must not
                # crash an executor 3 hours into a 100 TB pass)
                toks = t.split(" ") if t else []
                hs = {
                    shingle_id(" ".join(toks[i : i + n]))
                    for i in range(max(len(toks) - n + 1, 0))
                }
                out.append(list(hs))
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": out})

    return cpu_fanout(docs.select(id_col, text_col)).mapInPandas(
        shingle_batches, schema=f"{id_col} long, shingles array<long>"
    )


def minhash_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
) -> DataFrame:
    """(id, shingles: array<long>, sig: array<long>) in ONE Arrow pass.

    Shingle ids are blake2b-64 of the word n-grams (as in
    ``shingle_frame``); the k minhashes are splitmix64-style mixes of
    (shingle ^ seed_i), minimized per doc with one vectorized numpy
    reduction — no second pass over the data, no 16 JVM transforms.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    # golden-ratio-derived odd constants (splitmix64) — deterministic seeds
    seeds = np.array(
        [(0x9E3779B97F4A7C15 * (i + 1)) & 0xFFFFFFFFFFFFFFFF for i in range(k)],
        dtype=np.uint64,
    )

    def mix(x: "np.ndarray") -> "np.ndarray":
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    def batches_fn(batches):
        memo: dict[str, int] = {}  # shingle -> id; vocab is Zipfian, hits dominate

        def shingle_id(s: str) -> int:
            h = memo.get(s)
            if h is None:
                h = int.from_bytes(hashlib.blake2b(s.encode(), digest_size=8).digest(), "big")
                memo[s] = h
            return h

        for pdf in batches:
            sh_out, sig_out = [], []
            for t in pdf[text_col]:
                toks = t.split(" ")
                hs = {
                    shingle_id(" ".join(toks[i : i + n]))
                    for i in range(max(len(toks) - n + 1, 0))
                }
                arr = np.fromiter(hs, dtype=np.uint64, count=len(hs))
                if len(arr):
                    sig = mix(arr[:, None] ^ seeds[None, :]).min(axis=0)
                    sig_out.append(sig.astype(np.int64).tolist())
                else:
                    sig_out.append(None)
                sh_out.append(arr.astype(np.int64).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": sh_out, "sig": sig_out})

    return cpu_fanout(docs.select(id_col, text_col)).mapInPandas(
        batches_fn, schema=f"{id_col} long, shingles array<long>, sig array<long>"
    )


def minhash_signature(shingles: Column, k: int = 16) -> Column:
    """array<long> of k min-hashes: h_i(s) = xxhash64(s, i)."""
    return F.array(
        *[F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i)))) for i in range(k)]
    )


def band_buckets(sig: Column, bands: int, rows: int) -> Column:
    """array<struct<band:int, bucket:string>> — one bucket id per band."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[F.element_at(sig, b * rows + r + 1).cast("string") for r in range(rows)],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
    k: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    sig_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: (id_a, id_b) distinct, id_a < id_b.

    ``docs`` must carry (id_col, shingle_col: array<long>). Only id+band
    +bucket enter the shuffle — ONE groupBy moves each (id, band) row
    once, then in-bucket pairs are generated JVM-side from the sorted id
    list (a self-join on (band, bucket) would shuffle the banded frame
    twice and need a separate window pass for the bucket-size cap; here
    the cap is a free ``size(ids)`` filter on the grouped row). Pass
    ``sig_col`` when signatures are precomputed (e.g. by
    ``minhash_frame``) to skip the JVM minhash.

    Hot buckets (boilerplate text) are the LSH failure mode at scale:
    ``max_bucket_size`` drops buckets above the cap before any pair is
    produced, bounding the per-bucket quadratic blowup.
    """
    rows = k // bands
    if sig_col is not None:
        sig = docs.select(id_col, F.col(sig_col).alias("sig"))
    else:
        sig = docs.select(id_col, minhash_signature(F.col(shingle_col), k).alias("sig"))
    banded = sig.select(
        id_col, F.explode(band_buckets(F.col("sig"), bands, rows)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    grouped = banded.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_set(F.col(id_col))).alias("ids")
    )
    grouped = grouped.filter(F.size("ids") >= 2)
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    # all (i < j) combinations of the sorted bucket ids — id_a < id_b by
    # construction, so no orientation fixup is needed afterwards.
    # TWO nested explodes, not one flattened combos array: a single
    # array of all C(n,2) pair structs for a bucket is one row-value of
    # quadratic size (a 70k-doc hot bucket with max_bucket_size=None
    # would build a 2.4e9-element array — past Spark's array limit),
    # while the staged form emits one row per (bucket, i) whose largest
    # array is the <= n-element tail slice, so memory per row stays
    # linear in the bucket size and the quadratic pair set streams.
    expanded = grouped.select(
        "ids", F.explode(F.sequence(F.lit(1), F.size("ids") - 1)).alias("i")
    )
    return (
        expanded.select(
            F.element_at("ids", F.col("i").cast("int")).alias("id_a"),
            F.explode(
                F.slice(F.col("ids"), F.col("i") + 1, F.size("ids") - F.col("i"))
            ).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return inter.cast("double") / (F.size(sh_a) + F.size(sh_b) - inter)


def simhash_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash: long) via one Arrow-batched numpy pass.

    Distinct tokens hash to 64 bits (blake2b-64, stable); per-bit +-1
    votes are summed with ``np.unpackbits`` over the batch's token hash
    matrix; fingerprint bit i = (vote_i > 0). ~20x faster than the
    64-expression JVM formulation (`simhash64`) because the bit loop
    vectorizes instead of re-walking the token array 64 times.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def simhash_batches(batches):
        memo: dict[str, "np.ndarray"] = {}  # token -> unpacked 64 bits

        def token_bits(tok: str) -> "np.ndarray":
            b = memo.get(tok)
            if b is None:
                raw = np.frombuffer(
                    hashlib.blake2b(tok.encode(), digest_size=8).digest(), dtype=np.uint8
                )
                b = np.unpackbits(raw).astype(np.int32)
                memo[tok] = b
            return b

        for pdf in batches:
            out = []
            for t in pdf[text_col]:
                toks = set(t.split(" "))
                votes = sum(token_bits(tok) for tok in toks) * 2 - len(toks)
                fp_bits = (votes > 0).astype(np.uint8)
                fp = int.from_bytes(np.packbits(fp_bits).tobytes(), "big", signed=True)
                out.append(fp)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return cpu_fanout(docs.select(id_col, text_col)).mapInPandas(
        simhash_batches, schema=f"{id_col} long, simhash long"
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash from a token array: per-bit +-1 votes over xxhash64
    of each token; fingerprint bit i = (vote_i > 0). Unrolls to 64 JVM
    expressions — row-parallel, no shuffle."""
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    fingerprint = None
    for i in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0, 1).otherwise(-1),
        )
        bit = F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return fingerprint
