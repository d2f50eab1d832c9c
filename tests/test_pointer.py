"""The pointer-file protocol (streaming/pointer.py): load with a
default, atomic publish, sweep of unreferenced data dirs — and the
guard that no other module flips a pointer of its own."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from qin_cdc_spark.streaming import pointer

PACKAGE = Path(__file__).resolve().parent.parent / "qin_cdc_spark"


def test_load_returns_default_when_absent(tmp_path):
    default = {"applied_version": 0, "data": None}
    assert pointer.load(str(tmp_path), "_meta.json", default) is default
    assert pointer.load(str(tmp_path / "never-made"), "_meta.json", None) is None


def test_publish_leaves_exactly_the_pointer_file(tmp_path):
    path = str(tmp_path / "store")  # publish makes the dir
    pointer.publish(path, "_meta.json", {"v": 1})
    pointer.publish(path, "_meta.json", {"v": 2})
    assert os.listdir(path) == ["_meta.json"]
    assert pointer.load(path, "_meta.json", None) == {"v": 2}


def test_failed_replace_keeps_the_old_pointer(tmp_path, monkeypatch):
    path = str(tmp_path)
    pointer.publish(path, "_meta.json", {"v": 1})

    def no_replace(src, dst):
        raise OSError("disk gone")

    monkeypatch.setattr(os, "replace", no_replace)
    with pytest.raises(OSError, match="disk gone"):
        pointer.publish(path, "_meta.json", {"v": 2})
    assert pointer.load(path, "_meta.json", None) == {"v": 1}
    assert os.listdir(path) == ["_meta.json"]  # no tmp file left behind


def test_sweep_removes_only_unreferenced_prefixed_dirs(tmp_path):
    for d in ["st-live", "st-dead", "ru-live", "ru-dead", "keep-me", "_bands"]:
        (tmp_path / d).mkdir()
    pointer.publish(str(tmp_path), "_meta.json", {})
    pointer.sweep(str(tmp_path), ("st-", "ru-"), {"st-live", "ru-live", None})
    assert sorted(os.listdir(tmp_path)) == [
        "_bands", "_meta.json", "keep-me", "ru-live", "st-live",
    ]


def test_only_the_pointer_module_replaces_files():
    callers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "os.replace(" in p.read_text()
    )
    assert callers == [os.path.join("streaming", "pointer.py")]
