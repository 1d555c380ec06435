"""The per-user scratch root behind ``work_dir`` and ``snapshot_dir``
refuses a root it does not own or that is reached through a symlink,
and keeps the wipe (``work_dir``) / no-wipe (``snapshot_dir``)
contracts."""

from __future__ import annotations

import os
import tempfile

import pytest

from kafka_stream_service_spark.queries import _util, stored


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    return tmp_path


def test_symlinked_root_is_refused(tmp_root):
    elsewhere = tmp_root / "elsewhere"
    elsewhere.mkdir()
    os.symlink(elsewhere, tmp_root / f"kssp_work_{os.getuid()}")
    with pytest.raises(RuntimeError, match="refusing"):
        _util.work_dir("t", "sf")
    with pytest.raises(RuntimeError, match="refusing"):
        stored.snapshot_dir("t", "sf")
    assert list(elsewhere.iterdir()) == []


def test_root_owned_by_another_user_is_refused(tmp_root, monkeypatch):
    # the root for uid+1 exists but belongs to this process's uid
    other = os.getuid() + 1
    (tmp_root / f"kssp_work_{other}").mkdir()
    monkeypatch.setattr(os, "getuid", lambda: other)
    with pytest.raises(RuntimeError, match="refusing"):
        _util.work_dir("t", "sf")
    with pytest.raises(RuntimeError, match="refusing"):
        stored.snapshot_dir("t", "sf")


def test_work_dir_wipes_and_snapshot_dir_keeps(tmp_root):
    root = tmp_root / f"kssp_work_{os.getuid()}"
    w = _util.work_dir("t", "sf")
    s = stored.snapshot_dir("t", "sf")
    assert os.path.dirname(w) == os.path.dirname(s) == str(root)
    assert oct(root.stat().st_mode & 0o777) == "0o700"
    for d in (w, s):
        open(os.path.join(d, "f"), "w").close()
    assert os.listdir(_util.work_dir("t", "sf")) == []
    assert os.listdir(stored.snapshot_dir("t", "sf")) == ["f"]
