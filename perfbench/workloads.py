"""The benchmark's workloads: which registered gates one pass runs, over
inputs of which size.

Each workload is one process that runs its gates in a closed loop with
a single caller: the next gate starts only after the previous one's
noop-sink write has finished. A pass runs every gate of the workload
once, in an order drawn from the seed; a round runs one pass per gate.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    gates: tuple[str, ...]
    #: rows of the ``events`` table ``fixture.py`` writes for the workload
    n_events: int


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "book_metrics",
            "the paper's core on sf0.1-sized input: rolling-window "
            "correlations and a per-level melt and aggregation of the "
            "depth-5 book, where executor work outweighs plan construction",
            ("book_rolling_corr", "book_level_stats"),
            100_000,
        ),
        Workload(
            "stream_replay",
            "availableNow replays of the book tape on sf0.01-sized input, "
            "one through a Python state callback, where per-trigger work "
            "outweighs executor work",
            ("streaming_ofi_replay", "streaming_windowed_metrics"),
            10_000,
        ),
    )
}


def pass_orders(workload: Workload, seed: int, n_rounds: int) -> list[list[list[str]]]:
    """Gate orders of ``n_rounds`` rounds of passes, drawn from ``seed``:
    the same seed gives the same orders. A round is one pass per gate:
    the rotations of an order drawn for the round, so each gate runs at
    each position once. A gate's wall depends on which gate ran before
    it, so a round balances that out where a free draw per pass would
    not."""
    rng = random.Random(seed)
    rounds = []
    for _ in range(n_rounds):
        gates = list(workload.gates)
        rng.shuffle(gates)
        rounds.append([gates[k:] + gates[:k] for k in range(len(gates))])
    return rounds
