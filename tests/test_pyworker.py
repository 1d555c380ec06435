"""The engine's Python worker daemon (``kafka_stream_service_spark.pyworker``).

The zipimport checks run in subprocesses, so this process keeps the
stock ``zipimporter``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent

DAEMON = "kafka_stream_service_spark.pyworker"


def _run(script: str, cwd: str, env: dict[str, str] | None = None) -> str:
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout.strip().splitlines()[-1]


def _write_zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)


def _python_env() -> dict[str, str]:
    return {**os.environ, "PYTHONPATH": str(REPO)}


def test_unchanged_archive_is_not_reread(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/mod.py": "VALUE = 1\n"})
    stock, counts = json.loads(_run(f"""
        import importlib, json, sys, zipimport
        sys.path.insert(0, {archive!r})
        import pkg.mod  # two importers over one archive: lib.zip and lib.zip/pkg
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock_read(p)
        importlib.invalidate_caches()
        stock = len(reads)
        from kafka_stream_service_spark import pyworker
        pyworker.install()
        counts = []
        for _ in range(3):
            del reads[:]
            importlib.invalidate_caches()
            counts.append(len(reads))
        print(json.dumps([stock, counts]))
    """, cwd=str(tmp_path), env=_python_env()))
    # the stock method re-reads once per importer before CPython 3.13 and
    # reads lazily from 3.13; the daemon's reads the archive once, then
    # never again while it is unchanged
    assert stock in (0, 2)
    assert counts == ([1, 0, 0] if stock else [0, 0, 0])


def test_rewritten_archive_serves_its_new_module(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"old_mod.py": "VALUE = 1\n"})
    got = _run(f"""
        import importlib, sys
        sys.path.insert(0, {archive!r})
        from kafka_stream_service_spark import pyworker
        pyworker.install()
        import old_mod
        importlib.invalidate_caches()
        import zipfile
        with zipfile.ZipFile({archive!r}, "w") as z:  # same path, same inode
            z.writestr("old_mod.py", "VALUE = 1\\n")
            z.writestr("new_mod.py", "VALUE = 2\\n")
        importlib.invalidate_caches()
        import new_mod
        print(new_mod.VALUE)
    """, cwd=str(tmp_path), env=_python_env())
    assert got == "2"


def test_python_tasks_run_under_the_engine_daemon(spark):
    def daemon_of_task(batches):  # nested, so it is pickled by value
        import sys
        import zipimport

        spec = getattr(sys.modules["__main__"], "__spec__", None)
        for _ in batches:
            yield pd.DataFrame({
                "daemon": [spec.name if spec else ""],
                "invalidate": [zipimport.zipimporter.invalidate_caches.__name__],
            })

    row = spark.range(1).mapInPandas(daemon_of_task, "daemon string, invalidate string").first()
    assert row.daemon == DAEMON
    assert row.invalidate == "_invalidate_if_changed"


def test_session_from_outside_the_repo_runs_python_tasks(tmp_path):
    """The daemon module must import on the executors even when neither
    the driver's working directory nor PYTHONPATH holds the package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    got = _run(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from kafka_stream_service_spark.session import get_spark

        def plus_one(batches):
            for b in batches:
                yield b + 1

        spark = get_spark("outside_repo", master="local[1]")
        print(sorted(r.id for r in spark.range(3).mapInPandas(plus_one, "id long").collect()))
        spark.stop()
    """, cwd=str(tmp_path), env=env)
    assert got == "[1, 2, 3]"
