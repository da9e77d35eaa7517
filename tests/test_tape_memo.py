"""The replay-tape memo (``plans/base.py:_memo_tape``) keys both its
in-process and its cross-process level on the fixture identities and
the plants toggle: a flipped ``SPARK_GRAFT_PLANTS`` or a rewritten
``events.parquet`` under the same ``sf_dir`` must build a new tape in
the same process, never replay the old one."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from market_microstructure_toolkit_spark.plans import base as B


def _write_events(path: str, n: int, mtime: float) -> None:
    pq.write_table(pa.table({"user_id": pa.array(range(n), pa.int64())}), path)
    os.utime(path, (mtime, mtime))


def test_tape_memo_keys_on_inputs(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path / "scratch"))
    monkeypatch.setenv("SPARK_GRAFT_PLANTS", "1")
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    events = str(sf_dir / "events.parquet")
    _write_events(events, 3, 1_700_000_000)
    builds = []

    def build(base):
        builds.append(base)
        os.makedirs(f"{base}/data/a")
        return [f"{base}/data/a"]

    first = B._memo_tape(str(sf_dir), "unit", build)
    assert B._memo_tape(str(sf_dir), "unit", build) == first
    assert len(builds) == 1

    monkeypatch.setenv("SPARK_GRAFT_PLANTS", "0")
    no_plants = B._memo_tape(str(sf_dir), "unit", build)
    assert no_plants != first
    assert len(builds) == 2
    monkeypatch.setenv("SPARK_GRAFT_PLANTS", "1")
    assert B._memo_tape(str(sf_dir), "unit", build) == first
    assert len(builds) == 2

    _write_events(events, 5, 1_700_000_100)
    rewritten = B._memo_tape(str(sf_dir), "unit", build)
    assert rewritten not in (first, no_plants)
    assert len(builds) == 3
    assert os.path.isdir(f"{rewritten}/data/a")
