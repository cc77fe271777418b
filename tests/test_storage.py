"""The storage commit module: whole-table swap, its crash point, the
cross-process swap race, and the overlap helper the store writers use
to run independent Spark jobs side by side."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from fdblog2clickhouse_spark import storage
from fdblog2clickhouse_spark.session import overlap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_gen(gen: str):
    def write(staging: str) -> None:
        os.makedirs(staging)
        with open(os.path.join(staging, "gen.txt"), "w") as f:
            f.write(gen)

    return write


def _gen(path: str) -> str:
    with open(os.path.join(path, "gen.txt")) as f:
        return f.read()


def test_commit_crash_before_publish_heals_to_old_table(tmp_path, monkeypatch):
    """A crash between rename(live→.old) and rename(staging→live)
    leaves only '.old': the invariant says it is complete, and the
    next heal (every reader's first step) restores it."""
    path = str(tmp_path / "tbl")
    storage.commit(path, _write_gen("1"))

    real_rename = os.rename

    def crash_on_publish(src, dst):
        if dst == path:
            raise OSError("simulated crash before publish")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_publish)
    with pytest.raises(OSError, match="simulated crash"):
        storage.commit(path, _write_gen("2"))
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path) and os.path.isdir(path + ".old")

    storage.heal_swap(path)
    assert _gen(path) == "1"
    storage.commit(path, _write_gen("3"))
    assert _gen(path) == "3"
    assert sorted(os.listdir(tmp_path)) == ["tbl"]


def test_overlap_raises_foreground_error_with_background_chained():
    """Both sides fail: the foreground error is the one raised, and
    the background error rides along as its cause."""

    def bg():
        raise RuntimeError("background failed")

    def fg():
        raise ValueError("foreground failed")

    with pytest.raises(ValueError, match="foreground failed") as ei:
        overlap(bg, fg)
    assert isinstance(ei.value.__cause__, RuntimeError)
    assert "background failed" in str(ei.value.__cause__)


def test_overlap_raises_background_error_alone():
    def bg():
        raise RuntimeError("background failed")

    with pytest.raises(RuntimeError, match="background failed"):
        overlap(bg, lambda: None)


def test_overlap_runs_every_background_on_one_kept_thread():
    """Successive calls run their backgrounds on the same worker
    thread (one py4j-pinned JVM thread for the process, not one per
    call), and the foreground stays on the caller's thread."""
    import threading

    seen = []
    for _ in range(2):
        overlap(lambda: seen.append(("bg", threading.get_ident())),
                lambda: seen.append(("fg", threading.get_ident())))
    threads = {side: [t for s, t in seen if s == side] for side in ("bg", "fg")}
    assert threads["fg"] == [threading.get_ident()] * 2
    assert len(set(threads["bg"])) == 1 and threads["bg"][0] != threading.get_ident()


def test_race_stress_swap_mode_green():
    """The real cross-process swap race (tools/race_stress.py default
    mode: this process swaps, two other processes heal hot) runs in
    seconds without Spark, so it stays in the default tier."""
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "race_stress.py"), "300", "2"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "race-stress: GREEN" in proc.stdout, proc.stdout + proc.stderr
