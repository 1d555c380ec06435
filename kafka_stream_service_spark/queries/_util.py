"""Shared helpers for oracle-exact query authoring.

Why DECIMAL: all money columns in the fixtures carry exactly 2 decimal
digits, so casting to DECIMAL before aggregation makes sums *exact* and
therefore independent of partition/summation order — Spark and DuckDB then
agree bit-for-bit after the final cast back to DOUBLE. Double-sums would
differ in the last ulps between engines (different reduction trees) and
fail the driver's exact value-hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: str | Column, precision: int = 12, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(expr: Column, alias: str) -> Column:
    """Exact decimal sum surfaced as double."""
    return F.sum(expr).cast("double").alias(alias)


def davg(expr: Column, alias: str) -> Column:
    """Deterministic average: exact decimal sum, one double division."""
    return (F.sum(expr).cast("double") / F.count(F.lit(1))).alias(alias)


# revenue := l_extendedprice * (1 - l_discount), exact in decimal
def revenue_expr() -> Column:
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount", 4, 2))


REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


def sorted_fold(struct_col: Column, field: str) -> Column:
    """Order-fixed double sum: collect the group's structs, sort them by
    their leading key and fold ``field`` left to right, so the sum does
    not depend on partition or arrival order. Pair with chunked keys to
    keep each collected list bounded."""
    return F.aggregate(
        F.transform(F.sort_array(F.collect_list(struct_col)), lambda s: s[field]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _scratch_path(name: str, sf_dir: str) -> str:
    """``<root>/<name>_<sf key>`` under the per-user scratch root: uid in
    the root's name, mode 0700, ownership verified, so another user on a
    shared host can neither pre-create nor symlink it — a world-shared
    fixed path would silently follow a foreign symlink through
    rmtree/makedirs. Creates the root only; the caller owns the path."""
    import hashlib
    import os
    import tempfile

    uid = os.getuid()
    root = os.path.join(tempfile.gettempdir(), f"kssp_work_{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    if st.st_uid != uid or not os.path.isdir(root) or os.path.islink(root):
        raise RuntimeError(
            f"scratch root {root} exists but is not a directory owned by uid {uid} "
            "— refusing to use it (possible squatting/symlink attack)"
        )
    os.chmod(root, 0o700)  # enforce even when the dir predates this call
    sf_key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(root, f"{name}_{sf_key}")


def work_dir(tag: str, sf_dir: str) -> str:
    """Stable scratch directory for queries that materialize intermediate
    files (format roundtrips, partitioned rewrites, streaming-replay
    chunks): one directory per (query tag, scale factor), WIPED on entry
    so repeated invocations overwrite instead of accumulating — a fresh
    mkdtemp per call leaks a full table copy every run, and the driver
    gate / bench / sweep invoke each query many times per session.

    The returned DataFrames lazily read files under this path, so the
    path must outlive the call (deletion inside the query would break
    evaluation) — bounded reuse is the correct lifetime, not eager
    cleanup. Single-process assumption (the harnesses run queries
    serially); concurrent runs of the SAME query+SF would race.
    The root is per user (see :func:`_scratch_path`).
    """
    import os
    import shutil

    path = _scratch_path(tag, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
