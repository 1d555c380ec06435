"""The contract every stored index shares (``queries/stored.py``),
checked once per declared artifact: a read of an absent artifact builds
it once and reads it back; a read of a present one rewrites nothing; a
build leaves no temp dir, and one that loses the rename race leaves the
published copy as it was; the path carries the revision token and the
source fingerprint; and retention keeps the live artifact even when it
is the oldest of its family.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from kafka_stream_service_spark.operators.retention import gc_all_known_indexes
from kafka_stream_service_spark.queries import stored
from kafka_stream_service_spark.tables import DEFAULT_SF_DIR

SF = DEFAULT_SF_DIR
OTHER_SF = os.path.join(os.path.dirname(SF), "sf0.01")


def _frames(got) -> list:
    return list(got.values()) if isinstance(got, dict) else [got]


def _mtimes(path: str) -> dict[str, float]:
    return {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    }


def _tmp_leftovers(path: str) -> list[str]:
    return [n for n in os.listdir(os.path.dirname(path)) if ".tmp." in n]


@pytest.mark.parametrize("index", stored.DECLARED, ids=lambda d: d.name)
def test_stored_index_contract(spark, monkeypatch, index):
    publishes = []
    publish = stored.publish_atomic

    def counted(out, parts):
        publishes.append(out)
        publish(out, parts)

    monkeypatch.setattr(stored, "publish_atomic", counted)
    path = index.path(SF)

    # the path: the family's dir, then the revision token and the source
    # fingerprint, which differs between two corpora
    fingerprint = stored.table_fingerprint(SF, index.source)
    assert os.path.dirname(path) == stored.snapshot_dir(index.tag, SF)
    assert os.path.basename(path).startswith(f"{index.revision(SF)}_{fingerprint}")
    assert fingerprint != stored.table_fingerprint(OTHER_SF, index.source)

    # absent: the read builds once and reads the published copy back
    shutil.rmtree(path, ignore_errors=True)
    frames = _frames(index.read(spark, SF))
    assert publishes == [path]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert all(df.count() > 0 for df in frames)
    assert not _tmp_leftovers(path)

    # present: the read scans the artifact and rewrites nothing
    before = _mtimes(path)
    for df in _frames(index.read(spark, SF)):
        df.count()
    assert publishes == [path]
    assert _mtimes(path) == before

    # a build that loses the rename race leaves the published copy as it
    # was and drops its own temp dir
    index.build(spark, SF)
    assert publishes == [path, path]
    assert _mtimes(path) == before
    assert not _tmp_leftovers(path)

    # retention pins the live artifact even when it is the oldest: the
    # newest decoy takes the one recency slot, the older two go
    now = time.time()
    os.utime(path, (now - 9000, now - 9000))
    decoys = [os.path.join(os.path.dirname(path), f"r0decoy{i}_deadbeef") for i in range(3)]
    try:
        for i, d in enumerate(decoys):
            os.makedirs(d, exist_ok=True)
            open(os.path.join(d, "_SUCCESS"), "w").close()
            os.utime(d, (now - 600 + i * 60, now - 600 + i * 60))
        report = gc_all_known_indexes(SF, keep_latest=1)[index.tag]
        assert os.path.basename(path) in report.kept
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        assert [os.path.exists(d) for d in decoys] == [False, False, True]
    finally:
        for d in decoys:
            shutil.rmtree(d, ignore_errors=True)
