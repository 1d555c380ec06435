"""The scale probe's shard recipe (tools/scale_probe.py), checked on the
sf0.001 fixtures: x1 is the base, x3 holds three disjoint copies that
keep the base's types, arrival slices, vocabulary shape and cosines."""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from kafka_stream_service_spark.schemas import TABLE_NAMES
from kafka_stream_service_spark.tables import _declared_schema_fits, table_path
from tools import scale_probe

COPIES = 3


@pytest.fixture(scope="module")
def shards(tmp_path_factory, sf_dir):
    x1, x3 = scale_probe.build(sf_dir, str(tmp_path_factory.mktemp("shards")), [1, COPIES])
    return sf_dir, x1, x3


def _copies(path: str, name: str, n: int):
    t = pq.read_table(table_path(path, name))
    return [t.slice(c * n, n) for c in range(COPIES)]


def test_x1_is_the_base(shards):
    base, x1, _ = shards
    for name in TABLE_NAMES:
        assert pq.read_table(table_path(x1, name)).equals(
            pq.read_table(table_path(base, name))), name


def test_rows_and_types(shards):
    base, _, x3 = shards
    for name in TABLE_NAMES:
        n = pq.read_metadata(table_path(base, name)).num_rows
        copies = COPIES if name in scale_probe.KEYS else 1
        assert pq.read_metadata(table_path(x3, name)).num_rows == copies * n, name
        if name != "events":
            assert _declared_schema_fits(table_path(x3, name), name), name


def test_key_ranges_are_disjoint_and_keep_the_arrival_slice(shards):
    base, _, x3 = shards
    for name, keys in scale_probe.KEYS.items():
        b = pq.read_table(table_path(base, name))
        copies = _copies(x3, name, b.num_rows)
        for key in keys:
            ranges = sorted(
                (r["min"].as_py(), r["max"].as_py())
                for r in (pc.min_max(c[key]) for c in copies))
            for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
                assert hi < lo, (name, key, ranges)
            for c in copies:
                # the slice moduli the rows use are 10, 20 and 100
                assert np.array_equal(c[key].to_numpy() % 100, b[key].to_numpy() % 100), (
                    name, key)


def test_documents_share_no_token_across_copies(shards):
    base, _, x3 = shards
    n = pq.read_metadata(table_path(base, "documents")).num_rows
    vocab = [
        {tok for text in c["text"].to_pylist() for tok in text.split(" ") if tok}
        for c in _copies(x3, "documents", n)
    ]
    for i in range(COPIES):
        for j in range(i + 1, COPIES):
            assert not vocab[i] & vocab[j], (i, j)


def test_embedding_copies_keep_the_base_dot_products(shards):
    base, _, x3 = shards
    b = pq.read_table(table_path(base, "embeddings"))

    def vectors(t):
        return np.array(t["embedding"].to_pylist(), dtype=np.float64)

    def gram(m):
        # summed one dimension at a time, so equal terms give equal sums
        # (a BLAS product may round equal inputs differently)
        g = np.zeros((len(m), len(m)))
        for d in range(m.shape[1]):
            g += np.outer(m[:, d], m[:, d])
        return g

    base_gram = gram(vectors(b))
    copies = [vectors(c) for c in _copies(x3, "embeddings", b.num_rows)]
    for m in copies:
        np.testing.assert_array_equal(gram(m), base_gram)
    # across copies a vector and its own twin are far from parallel
    norms2 = (copies[0] ** 2).sum(axis=1)
    for i in range(COPIES):
        for j in range(i + 1, COPIES):
            twin_cos = (copies[i] * copies[j]).sum(axis=1) / norms2
            assert np.abs(twin_cos).max() < 0.9, (i, j, twin_cos)
