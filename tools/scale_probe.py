"""One scale-probe tool: disjoint shard copies of a fixture set.

A time-vs-data slope separates a row's fixed cost per job from its cost
per record (the D-Streams reading). The fixtures stop at sf0.1, so this
tool writes ``<out_root>/x{m}`` for each multiple ``m``: ``m`` copies of
every sf0.1 fact table under one recipe.

- Every keyed table's entity keys (``KEYS``) shift by ``i * KEY_OFFSET``
  for copy ``i``, so joins fan out within a copy (an order's lineitems
  stay its own) and never across copies.
- Every ``documents`` token gets the prefix ``c{i}_``, so copies share
  no token and no shingle. Duplicated text would multiply every
  shingle's document frequency instead, and the rare-shingle rows would
  measure a hot bucket, not a larger corpus.
- Every ``embeddings`` copy flips the sign of each dimension ``d`` by an
  md5 bit of ``(i, d)``. Within a copy the flips cancel in every dot
  product, so the copy keeps the base's cosines and its near-duplicate
  structure; across copies the cosines scatter around 0, so copies add
  about no near-duplicate pairs. Quantization scales by ``|x|``, so the
  int8 rows see the base's magnitudes.
- ``region`` and ``nation`` are shared.

Copy 0 is the base row for row, so ``x1`` is the fixture. ``KEY_OFFSET``
is a multiple of every arrival-slice modulus the rows use (``key % 10``,
``% 20`` and ``% 100``), so each copy keeps the base's slice. The copies
keep the fixtures' column types, so ``tables.load_table`` reads a shard
with the declared schema, as it reads the fixtures.

Time the shards with the A/B runner, one leg per multiple. Its median of
three passes drops the first, which also builds any stored index a row
reads (a ``queries/stored.py`` index builds itself when absent), so
the median is the steady-state refresh:

    python tools/scale_probe.py build /tmp/shards 1 4 16
    for m in 1 4 16; do
        python tools/ab_runner.py . rows.json scale.jsonl /tmp/shards/x$m
    done
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_stream_service_spark.schemas import TABLE_NAMES  # noqa: E402
from kafka_stream_service_spark.tables import DEFAULT_SF_DIR, table_path  # noqa: E402

BASE = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
KEY_OFFSET = 100_000_000
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _signs(copy: int, dim: int) -> np.ndarray:
    """Copy ``copy``'s sign per dimension 1..dim: -1 where the first md5
    byte of ``"{copy}:{d}"`` is odd."""
    odd = [int(hashlib.md5(f"{copy}:{d}".encode()).hexdigest()[:2], 16) % 2
           for d in range(1, dim + 1)]
    return np.array(odd, dtype=bool)


def _flip(emb: pa.ListArray, copy: int) -> pa.ListArray:
    values = emb.flatten().to_numpy(zero_copy_only=False)
    offsets = emb.offsets.to_numpy()
    # each value's 0-based position inside its own list
    pos = np.arange(len(values)) - offsets[pc.list_parent_indices(emb).to_numpy()]
    flip = _signs(copy, int(pos.max()) + 1 if len(pos) else 0)[pos]
    flipped = pa.array(np.where(flip, -values, values), type=emb.type.value_type)
    return pa.ListArray.from_arrays(emb.offsets, flipped, type=emb.type, mask=emb.is_null())


def shard_copy(table: pa.Table, name: str, copy: int) -> pa.Table:
    """Copy ``copy`` of fact table ``name``; copy 0 is ``table`` itself."""
    if copy == 0:
        return table
    shift = pa.scalar(copy * KEY_OFFSET, pa.int64())
    for key in KEYS[name]:
        i = table.schema.get_field_index(key)
        table = table.set_column(i, table.schema.field(i), pc.add(table[key], shift))
    if name == "documents":
        i = table.schema.get_field_index("text")
        text = pc.replace_substring_regex(table["text"], r"([^ ]+)", rf"c{copy}_\1")
        table = table.set_column(i, table.schema.field(i), text)
    if name == "embeddings":
        i = table.schema.get_field_index("embedding")
        emb = _flip(table["embedding"].combine_chunks(), copy)
        table = table.set_column(i, table.schema.field(i), emb)
    return table


def build(base: str, out_root: str, multiples: list[int]) -> list[str]:
    """Write ``<out_root>/x{m}`` for each multiple; returns the shard dirs."""
    dirs = []
    for m in multiples:
        out = os.path.join(out_root, f"x{m}")
        os.makedirs(out, exist_ok=True)
        for name in TABLE_NAMES:
            src, dst = table_path(base, name), table_path(out, name)
            if name not in KEYS:
                shutil.copyfile(src, dst)
                continue
            table = pq.read_table(src)
            with pq.ParquetWriter(dst, table.schema) as writer:
                for copy in range(m):
                    writer.write_table(shard_copy(table, name, copy))
        dirs.append(out)
        print(f"built {out}", flush=True)
    return dirs


if __name__ == "__main__":
    if len(sys.argv) < 4 or sys.argv[1] != "build":
        sys.exit("usage: python tools/scale_probe.py build <out_root> <multiple>...")
    build(BASE, sys.argv[2], [int(m) for m in sys.argv[3:]])
