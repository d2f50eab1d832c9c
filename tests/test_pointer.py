"""The pointer-file protocol (streaming/pointer.py): load with a
default, atomic publish, sweep of unreferenced data dirs, the directory
swap and its crash repair — and the guard that no other module flips a
pointer or swaps a directory of its own."""

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


def _dir_with(path, name):
    os.makedirs(path)
    Path(path, name).write_text(name)


def test_swap_onto_absent_and_existing_live(tmp_path):
    live = str(tmp_path / "t")
    _dir_with(str(tmp_path / "s1"), "one")
    pointer.swap(str(tmp_path / "s1"), live)
    assert os.listdir(live) == ["one"]
    _dir_with(str(tmp_path / "s2"), "two")
    pointer.swap(str(tmp_path / "s2"), live)
    assert os.listdir(live) == ["two"]
    assert sorted(os.listdir(tmp_path)) == ["t"]  # stage moved, old copy gone


def test_recover_restores_after_failed_stage_rename(tmp_path, monkeypatch):
    live, stage = str(tmp_path / "t"), str(tmp_path / "s")
    _dir_with(live, "old")
    _dir_with(stage, "new")
    real_rename = os.rename

    def rename(src, dst):
        if src == stage:
            raise OSError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="crash"):
        pointer.swap(stage, live)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(live)
    pointer.recover(live)
    assert os.listdir(live) == ["old"]
    assert sorted(os.listdir(tmp_path)) == ["s", "t"]


def test_recover_repairs_child_dirs(tmp_path):
    live = tmp_path / "t"
    _dir_with(str(live / "b=0.old-dead"), "restored")  # b=0 itself is gone
    _dir_with(str(live / "b=1"), "live")
    _dir_with(str(live / "b=1.old-stale"), "stale")
    pointer.recover(str(live))
    assert sorted(os.listdir(live)) == ["b=0", "b=1"]
    assert os.listdir(live / "b=0") == ["restored"]
    assert os.listdir(live / "b=1") == ["live"]


def _modules_containing(text):
    return sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if text in p.read_text()
    )


def test_only_the_pointer_module_replaces_files():
    assert _modules_containing("os.replace(") == [os.path.join("streaming", "pointer.py")]


def test_only_the_pointer_module_swaps_directories():
    assert _modules_containing(".old-") == [os.path.join("streaming", "pointer.py")]
