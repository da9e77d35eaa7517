"""Window stages of the book gates run one task per symbol.

A rolling window costs CPU per row, so the per-symbol shuffle partitions
of ``book_rolling_corr`` must not be merged by AQE's partition
coalescing: under ``get_spark``'s confs each of the 4 symbols keeps a
task of its own whenever the session has at least 4 cores.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_rolling_corr_window_has_one_task_per_symbol(spark, sf_dir):
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    # the sf0.01 fixture sits beside the default one
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(f"{sf001}/events.parquet"):
        pytest.skip("needs the sf0.01 fixture")
    if spark.sparkContext.defaultParallelism < 4:
        pytest.skip("fewer cores than symbols")
    df = REGISTRY["book_rolling_corr"].spark(spark, sf001)
    # the partition id is read next to the window's own output column, so
    # the window (and its shuffle read) cannot be pruned away below it
    rows = (
        df.select(
            "symbol", F.spark_partition_id().alias("pid"), "ofi_ret_corr_50"
        )
        .groupBy("pid", "symbol")
        .agg(F.count("ofi_ret_corr_50").alias("n"))
        .collect()
    )
    symbols = {r["symbol"] for r in rows}
    pids = {r["pid"] for r in rows}
    assert len(symbols) == 4
    # one symbol per task and one task per symbol
    assert len(rows) == len(pids) == len(symbols)
