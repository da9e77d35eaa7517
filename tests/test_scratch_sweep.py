"""Stale-directory eviction under the scratch root: ``_scratch`` sweeps
sibling ``mmt_*`` dirs untouched for longer than ``_STALE_S`` but never
the tape cache root, and ``_memo_tape`` sweeps stale entries inside its
own cache root. Fresh directories survive both."""

from __future__ import annotations

import os
import time

from market_microstructure_toolkit_spark.plans import base as B


def _mkdir(path, age_s: float = 0.0) -> str:
    os.makedirs(path)
    t = time.time() - age_s
    os.utime(path, (t, t))
    return str(path)


def test_scratch_sweeps_stale_mmt_dirs_only(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    stale = B._STALE_S + 60
    old = _mkdir(tmp_path / "mmt_stream_old", stale)
    cache = _mkdir(tmp_path / "mmt_tape_cache_u0", stale)
    foreign = _mkdir(tmp_path / "other_old", stale)
    fresh = _mkdir(tmp_path / "mmt_stream_fresh")

    made = B._scratch(prefix="mmt_unit_")

    assert os.path.dirname(made) == str(tmp_path)
    assert os.path.isdir(made)
    assert not os.path.exists(old)
    assert os.path.isdir(cache)
    assert os.path.isdir(foreign)
    assert os.path.isdir(fresh)


def test_memo_tape_sweeps_stale_cache_entries(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    root = tmp_path / f"mmt_tape_cache_u{os.getuid()}"
    old = _mkdir(root / "old_entry", B._STALE_S + 60)
    fresh = _mkdir(root / "fresh_entry")

    def build(base):
        os.makedirs(f"{base}/data/a")
        return [f"{base}/data/a"]

    tape = B._memo_tape(str(sf_dir), "sweep_unit", build)

    assert os.path.dirname(tape) == str(root)
    assert os.path.isdir(f"{tape}/data/a")
    assert not os.path.exists(old)
    assert os.path.isdir(fresh)
