"""The engine's Python worker daemon: pyspark's daemon without the
per-task re-read of ``pyspark.zip``.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so every Python task runs in a worker forked from it. At each task start
pyspark calls ``importlib.invalidate_caches()``. Before CPython 3.13 that
makes every ``zipimporter`` re-read its archive's central directory at
once: 16 importers over the 1328 entries of ``pyspark.zip``, 0.16-0.24 s
of every task on a reused worker, whose body may take 2-3 ms. Here an
archive whose ``(st_mtime_ns, st_size, st_ino)`` equals its identity just
before its last read is not read again; its importers take the directory
that read cached. Any other case, a failed ``stat`` included, runs the
stock method.

    python -m kafka_stream_service_spark.pyworker   # as Spark starts it
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> its identity, taken just before its directory was last read
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        identity = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        identity = None  # unknown, so never taken as unchanged
    files = zipimport._zip_directory_cache.get(self.archive)
    if identity is not None and files is not None and _read_at.get(self.archive) == identity:
        self._files = files
        return
    _stock_invalidate(self)
    _read_at[self.archive] = identity


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    from pyspark import daemon

    install()
    # one read per archive here, which every forked worker inherits
    importlib.invalidate_caches()
    daemon.manager()
