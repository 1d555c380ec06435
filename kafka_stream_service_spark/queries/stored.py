"""Stored indexes: a table derived from one source table, built once and
read by later rows and later calls.

Each stored index is one :class:`StoredIndex` declaration next to its
derivation. The declaration names the family tag, the revision token,
the source table and how to derive the parts, each a (frame, sort
columns) pair; this module owns everything else:

- **Path.** ``snapshot_dir(tag)/<revision>_<source fingerprint><suffix>``.
  The revision token changes whenever the derivation code does, and the
  fingerprint whenever the source table is regenerated under the same
  path, so a stale artifact is never served: it just stops being found.
- **Publish.** A build writes every part to a temp sibling
  (``<path>.tmp.<pid>``), then one ``os.rename`` moves the complete
  directory into place. A reader sees the path absent or complete,
  never mid-write. A build that loses the rename race to a concurrent
  one drops its temp dir; derivations are deterministic, so the
  winner's copy is the same.
- **Read-back.** ``read`` builds on a miss and otherwise only scans the
  published parquet, so a row sampled before the artifact's builder
  pays the build once.
- **Retention.** ``operators/retention.gc_all_known_indexes`` pins
  every declared path (:data:`DECLARED`), so a new artifact cannot be
  left out of it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ._util import _scratch_path

# One parquet table of an artifact: the frame and the columns it is
# sorted by within each file, so its row groups carry tight min/max
# zone maps on the probe keys.
Part = tuple[DataFrame, tuple[str, ...]]
Parts = Part | dict[str, Part]

# Every declared stored index, in declaration order.
DECLARED: list["StoredIndex"] = []


def snapshot_dir(tag: str, sf_dir: str) -> str:
    """The PERSISTENT per-(tag, sf) directory of one artifact family,
    under :func:`_util.work_dir`'s per-user scratch root but never
    wiped on entry: one row builds an artifact here and later rows and
    calls read it."""
    path = _scratch_path(f"snap_{tag}", sf_dir)
    os.makedirs(path, exist_ok=True)
    return path


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap fingerprint of a source table (parquet mtime+size), baked
    into artifact paths so regenerating the fixture data under the SAME
    path invalidates an artifact instead of serving stale rows."""
    import hashlib

    from ..tables import table_path

    st = os.stat(table_path(sf_dir, name))
    return hashlib.md5(f"{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]


def _write(part: Part, path: str) -> None:
    df, sort_cols = part
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("overwrite").parquet(path)


def publish_atomic(out: str, parts: Parts) -> None:
    """Publish ``parts`` as the artifact directory ``out`` with one
    rename. One part is the parquet directory itself (parquet's commit
    leaves ``_SUCCESS`` inside); named parts are parquet subdirectories,
    and an artifact-level ``_SUCCESS`` marks all of them complete."""
    tmp = f"{out}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if isinstance(parts, dict):
        for name, part in parts.items():
            _write(part, os.path.join(tmp, name))
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass
    else:
        _write(parts, tmp)
    assert os.path.exists(os.path.join(tmp, "_SUCCESS"))
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


@dataclass(frozen=True)
class StoredIndex:
    """One stored index. ``derive(spark, sf_dir)`` returns one Part, or
    a dict of the Parts named in ``parts``; ``rev`` is the revision
    token, or a function of ``sf_dir`` for a token sized from the data.
    ``on_build(out)`` runs after each publish."""

    tag: str
    rev: str | Callable[[str], str]
    source: str
    derive: Callable[[SparkSession, str], Parts]
    parts: tuple[str, ...] = ()
    suffix: str = ""
    on_build: Callable[[str], None] | None = None

    def __post_init__(self) -> None:
        if any(d.name == self.name for d in DECLARED):
            raise ValueError(f"stored index {self.name} declared twice")
        DECLARED.append(self)

    @property
    def name(self) -> str:
        return self.tag + self.suffix

    def revision(self, sf_dir: str) -> str:
        return self.rev(sf_dir) if callable(self.rev) else self.rev

    def path(self, sf_dir: str) -> str:
        return os.path.join(
            snapshot_dir(self.tag, sf_dir),
            f"{self.revision(sf_dir)}_{table_fingerprint(sf_dir, self.source)}"
            f"{self.suffix}",
        )

    def build(self, spark: SparkSession, sf_dir: str):
        """Derive and publish the artifact, then read it back, so the
        caller sees exactly what later readers will."""
        out = self.path(sf_dir)
        publish_atomic(out, self.derive(spark, sf_dir))
        if self.on_build is not None:
            self.on_build(out)
        return self._frames(spark, out)

    def read(self, spark: SparkSession, sf_dir: str):
        """The published artifact, built first if absent: one DataFrame,
        or a dict of them by part name."""
        out = self.path(sf_dir)
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            return self.build(spark, sf_dir)
        return self._frames(spark, out)

    def _frames(self, spark: SparkSession, out: str):
        if not self.parts:
            return spark.read.parquet(out)
        return {p: spark.read.parquet(os.path.join(out, p)) for p in self.parts}
