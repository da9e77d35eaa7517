"""The package's environment surface is pinned: every ``SPARK_GRAFT_*``
name the package source mentions must be on the allowlist below, and
every allowlisted name must still be mentioned. A new knob therefore
needs a deliberate edit here — thresholds that pick a physical layout
are module constants, which tests patch with ``monkeypatch.setattr``."""

from __future__ import annotations

import re
from pathlib import Path

import market_microstructure_toolkit_spark as pkg

ALLOWED = {
    # paths and sizing
    "SPARK_GRAFT_SCRATCH_DIR",
    "SPARK_GRAFT_CKPT_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_RESULT",
    # deployment timeout for century-scale replays
    "SPARK_GRAFT_REPLAY_AWAIT_S",
    # streaming state-store provider
    "SPARK_GRAFT_STATE_STORE",
    # fixture plants toggle, part of the memo keys
    "SPARK_GRAFT_PLANTS",
    # registry rotation
    "SPARK_GRAFT_ROUND",
    # named in a session.py comment; read by tools/check_oracle.py
    "SPARK_GRAFT_ORACLE_DRIVER_MEM",
}


def test_package_env_names_match_allowlist():
    root = Path(pkg.__file__).resolve().parent
    found = set()
    for path in root.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text()))
    assert found == ALLOWED
