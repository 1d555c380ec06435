"""Snapshot retention / garbage collection (VERDICT r11 next-steps #4).

Every stored index in the catalog (pair buckets, semantic clusters,
text postings, IVF lists, KN LM counts) is published by
``queries/stored.py`` as one immutable directory per (revision token,
source fingerprint) under ``snapshot_dir(tag, sf_dir)`` — and nothing
ever deleted them: each derivation-code bump or fixture regeneration
strands the previous artifact forever. This module is the missing
lifecycle leg: an inventory pass over a tag's artifact family and a
retention pass that keeps the newest ``keep_latest`` complete artifacts
(current + N-1 for rollback), pins any caller-named paths, removes the
rest, and sweeps stale ``.tmp.<pid>`` droppings left by crashed
builders.

Scale shape: GC is pure artifact-METADATA work — one directory listing
plus O(#revisions) stat calls and deletes; it never opens a parquet
footer, let alone scans data. On a production deployment the same pass
runs against an object-store prefix listing (artifacts are immutable
directories there too), so cost scales with revision count, not corpus
size — the operational mirror of ``operators/maintenance.py``'s
small-file compaction, which manages the data files themselves.

Safety: all paths are resolved inside the per-user 0700 scratch root
``snapshot_dir`` owns; symlinked entries are refused (never followed),
and deletion only ever targets immediate subdirectories of the tag dir.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from ..queries.stored import DECLARED, snapshot_dir

# A builder's in-flight temp dir: "<artifact>.tmp.<pid>" (see
# stored.publish_atomic). One that outlives this grace period belongs to
# a crashed builder — a live one renames within seconds.
_TMP_MARKER = ".tmp."
DEFAULT_TMP_GRACE_S = 3600.0


@dataclass(frozen=True)
class SnapshotArtifact:
    name: str  # directory name under the tag dir (rev_fingerprint[...])
    path: str
    mtime: float
    total_bytes: int
    complete: bool  # parquet commit marker (_SUCCESS) present
    is_tmp: bool  # a publish_atomic temp sibling, not a published artifact


@dataclass(frozen=True)
class GcReport:
    kept: tuple[str, ...]
    deleted: tuple[str, ...]
    tmp_swept: tuple[str, ...]
    # published-name dirs missing _SUCCESS (anomaly, surfaced not deleted)
    skipped_incomplete: tuple[str, ...]
    # in-flight temp dirs within the grace period (a live builder's —
    # a distinct state from the anomaly above; ADVICE r12)
    tmp_young: tuple[str, ...] = ()
    # rmtree left the path alive (e.g. permission error on one file) —
    # the artifact is NOT gone and must not be reported as deleted
    delete_failed: tuple[str, ...] = ()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def list_snapshot_artifacts(tag: str, sf_dir: str) -> list[SnapshotArtifact]:
    """Inventory of a tag's artifact family, newest first (mtime desc,
    name desc as the deterministic tiebreak). Symlinks are refused —
    the scratch root is 0700-owned, so a symlink here is either a bug
    or an attack, never data."""
    root = snapshot_dir(tag, sf_dir)
    out: list[SnapshotArtifact] = []
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if os.path.islink(path):
            raise RuntimeError(f"symlink in snapshot root refused: {path}")
        if not os.path.isdir(path):
            continue
        st = os.lstat(path)
        out.append(
            SnapshotArtifact(
                name=name,
                path=path,
                mtime=st.st_mtime,
                total_bytes=_dir_bytes(path),
                complete=os.path.exists(os.path.join(path, "_SUCCESS")),
                is_tmp=_TMP_MARKER in name,
            )
        )
    out.sort(key=lambda a: (a.mtime, a.name), reverse=True)
    return out


def gc_snapshots(
    tag: str,
    sf_dir: str,
    keep_latest: int = 2,
    keep_paths: tuple[str, ...] = (),
    tmp_grace_s: float = DEFAULT_TMP_GRACE_S,
    dry_run: bool = False,
) -> GcReport:
    """Retention pass over one tag's artifact family.

    Policy: among COMPLETE published artifacts (``_SUCCESS`` present,
    not a temp sibling), keep the ``keep_latest`` newest by (mtime,
    name) plus anything whose basename or full path appears in
    ``keep_paths`` (the caller pins its live artifact — recency alone
    must never outrank the artifact current code resolves to); delete
    the rest. Incomplete non-temp directories are left alone (a
    concurrent builder may be mid-write under a rename-based publisher
    only for temp names, so an incomplete PUBLISHED name is an anomaly
    worth surfacing, not silently destroying). Temp siblings older than
    ``tmp_grace_s`` are swept; younger ones may belong to a live
    builder and are left to finish or age out.

    Idempotent: a second pass over the surviving state keeps the same
    set and deletes nothing.
    """
    if keep_latest < 1:
        raise ValueError("keep_latest must be >= 1 (never GC the current artifact)")
    pinned = {os.path.basename(p.rstrip("/")) for p in keep_paths}
    now = time.time()
    artifacts = list_snapshot_artifacts(tag, sf_dir)

    kept: list[str] = []
    deleted: list[str] = []
    tmp_swept: list[str] = []
    skipped: list[str] = []
    tmp_young: list[str] = []
    delete_failed: list[str] = []

    def _remove(a: SnapshotArtifact, done: list[str]) -> None:
        """Delete and VERIFY: rmtree(ignore_errors=True) can fail partway
        (e.g. a permission error on one file) and the report must never
        claim an artifact was removed while it is still alive on disk
        (ADVICE r12)."""
        if dry_run:
            done.append(a.name)
            return
        shutil.rmtree(a.path, ignore_errors=True)
        (done if not os.path.exists(a.path) else delete_failed).append(a.name)

    n_recent = 0
    for a in artifacts:  # newest first
        if a.is_tmp:
            if now - a.mtime >= tmp_grace_s:
                _remove(a, tmp_swept)
            else:
                tmp_young.append(a.name)
            continue
        if not a.complete:
            skipped.append(a.name)
            continue
        if a.name in pinned or a.path in keep_paths:
            kept.append(a.name)
            continue
        if n_recent < keep_latest:
            kept.append(a.name)
            n_recent += 1
            continue
        _remove(a, deleted)
    return GcReport(
        kept=tuple(kept),
        deleted=tuple(deleted),
        tmp_swept=tuple(tmp_swept),
        skipped_incomplete=tuple(skipped),
        tmp_young=tuple(tmp_young),
        delete_failed=tuple(delete_failed),
    )


def gc_all_known_indexes(
    sf_dir: str,
    keep_latest: int = 2,
    tmp_grace_s: float = DEFAULT_TMP_GRACE_S,
    dry_run: bool = False,
) -> dict[str, GcReport]:
    """One maintenance pass over EVERY stored-index family the engine
    publishes, each tag's LIVE artifact (the path current code resolves
    to — revision token + source fingerprint) pinned explicitly so the
    pass is safe to run at any time: recency keeps the newest
    ``keep_latest`` for rollback, the pin protects the serving artifact
    even when it is not the newest (post-rollback state). The families
    and their pins are the declarations in ``queries/stored.py``, so a
    declared artifact cannot be left out. This is the production
    retention job; q_snapshot_gc_census certifies the policy mechanics
    against a DuckDB oracle on a dedicated demo tag."""
    pins: dict[str, tuple[str, ...]] = {}
    for index in DECLARED:
        pins[index.tag] = (*pins.get(index.tag, ()), index.path(sf_dir))
    return {
        tag: gc_snapshots(
            tag,
            sf_dir,
            keep_latest=keep_latest,
            keep_paths=paths,
            tmp_grace_s=tmp_grace_s,
            dry_run=dry_run,
        )
        for tag, paths in pins.items()
    }
