"""Size gate on driver-side pyarrow column pulls: above the
footer-metadata threshold every planning-constant pull must take the
distributed Spark path instead of concatenating the column in driver
memory. These tests force the over-threshold path on the small fixtures
by patching the ``PULL_MAX_BYTES`` / ``PULL_MAX_ROWS`` constants and pin
(a) that the fallback actually engages and (b) that both paths produce
identical planning constants."""

from __future__ import annotations

import pytest


def _gate_limits(monkeypatch, **limits):
    """Patch the pull limits and clear the histogram memo so each test
    exercises a fresh dispatch decision. The gate reads the module
    constants per call, so the module needs no reload."""
    from market_microstructure_toolkit_spark.plans import base as B

    for k, v in limits.items():
        monkeypatch.setattr(B, k, v)
    B._KEY_HIST_MEMO.clear()
    return B


def test_parquet_column_raises_over_gate(monkeypatch, sf_dir):
    B = _gate_limits(monkeypatch, PULL_MAX_BYTES=1)
    with pytest.raises(ValueError, match="size"):
        B.parquet_column(f"{sf_dir}/events.parquet", "event_type")


def test_parquet_column_rows_gate(monkeypatch, sf_dir):
    B = _gate_limits(monkeypatch, PULL_MAX_ROWS=1)
    with pytest.raises(ValueError, match="size"):
        B.parquet_column(f"{sf_dir}/events.parquet", "event_type")


def test_mod4_hist_spark_fallback_exact(monkeypatch, spark, sf_dir):
    """The distributed histogram equals the arrow one bit-for-bit."""
    B = _gate_limits(monkeypatch)
    arrow_hist = B._mod4_hist(sf_dir)
    assert arrow_hist is not None
    B = _gate_limits(monkeypatch, PULL_MAX_BYTES=1)
    spark_hist = B._mod4_hist(sf_dir)
    B._KEY_HIST_MEMO.clear()
    assert spark_hist == arrow_hist


def test_mod4_hist_spark_fallback_negative_and_null(monkeypatch, spark, tmp_path):
    """Forced-fallback parity on the edge cases the arrow path guards:
    negative user_ids (C-style remainder) and NULLs (their own bucket).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf_edge"
    d.mkdir()
    ids = [-7, -5, -4, -1, 0, 1, 2, 3, 5, 8, None, None]
    pq.write_table(
        pa.table({"user_id": pa.array(ids, type=pa.int64())}),
        d / "events.parquet",
    )
    B = _gate_limits(monkeypatch)
    arrow_hist = B._mod4_hist(str(d))
    B = _gate_limits(monkeypatch, PULL_MAX_BYTES=1)
    spark_hist = B._mod4_hist(str(d))
    B._KEY_HIST_MEMO.clear()
    assert arrow_hist == spark_hist
    counts, n_null = spark_hist
    # -7%4=-3, -5%4=-1, -4%4=0, -1%4=-1, {0,8}%4=0, 1%4=1, 5%4=1, 2,3
    assert n_null == 2
    assert counts == [1, 0, 2, 3, 2, 1, 1]


def test_book_symbols_same_both_paths(monkeypatch, spark, sf_dir):
    from market_microstructure_toolkit_spark.plans.market_queries import (
        _book_symbols,
    )

    B = _gate_limits(monkeypatch)
    fast = _book_symbols(spark, sf_dir)
    B = _gate_limits(monkeypatch, PULL_MAX_BYTES=1)
    slow = _book_symbols(spark, sf_dir)
    B._KEY_HIST_MEMO.clear()
    assert fast == slow == ["S0", "S1", "S2", "S3"]


def test_event_types_same_both_paths(monkeypatch, spark, sf_dir):
    from market_microstructure_toolkit_spark.plans.events_queries import (
        _event_types,
    )

    _gate_limits(monkeypatch)
    fast = _event_types(spark, sf_dir)
    _gate_limits(monkeypatch, PULL_MAX_BYTES=1)
    slow = _event_types(spark, sf_dir)
    assert fast == slow
    assert len(fast) >= 1


def test_ts_range_matches_spark_agg(spark, sf_dir):
    """Row-group-statistics ts range == the Spark min/max aggregate the
    depth-evolution gate falls back to."""
    from pyspark.sql import functions as F

    from market_microstructure_toolkit_spark.plans import base as B
    from market_microstructure_toolkit_spark.sources.events import read_events

    rng = B.parquet_ts_range(f"{sf_dir}/events.parquet")
    assert rng is not None
    lo, hi, per_ms = rng
    ev = read_events(spark, sf_dir).select(
        F.expr("ts DIV 1000000").alias("ts_ms")
    )
    row = ev.agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")).collect()[0]
    assert lo // per_ms == row["lo"]
    assert hi // per_ms == row["hi"]


def test_ts_range_none_on_missing_column(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from market_microstructure_toolkit_spark.plans import base as B

    pq.write_table(
        pa.table({"x": pa.array([1, 2], type=pa.int64())}),
        tmp_path / "events.parquet",
    )
    assert B.parquet_ts_range(str(tmp_path / "events.parquet")) is None


def test_hist_not_memoized_on_stat_failure(monkeypatch, sf_dir):
    """r13 ADVICE: when os.stat fails the histogram must not be cached
    under the path-only key."""
    import os

    B = _gate_limits(monkeypatch)
    real_stat = os.stat

    def bad_stat(p, *a, **kw):
        if str(p).endswith("events.parquet"):
            raise OSError("stat refused")
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(os, "stat", bad_stat)
    out = B._mod4_hist(sf_dir)
    assert out is not None
    assert all(len(k) > 1 for k in B._KEY_HIST_MEMO)


def test_column_pull_fits_limits_are_inclusive(monkeypatch, tmp_path):
    """Over a directory of parts the gate sums rows and uncompressed
    column bytes across every row group of every part, and an input
    exactly at either limit still fits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from market_microstructure_toolkit_spark.sources.parquet_meta import (
        part_files,
    )

    d = tmp_path / "parts"
    d.mkdir()
    for k in range(3):
        ids = [None if i % 4 == 3 else i for i in range(10 * k, 10 * k + 7)]
        pq.write_table(
            pa.table({"user_id": pa.array(ids, type=pa.int64())}),
            d / f"part-{k}.parquet",
            row_group_size=3,
        )
    files = part_files(str(d))
    mds = [pq.ParquetFile(f).metadata for f in files]
    rows = sum(md.num_rows for md in mds)
    nbytes = sum(
        md.row_group(rg).column(0).total_uncompressed_size
        for md in mds
        for rg in range(md.num_row_groups)
    )
    assert (len(files), rows) == (3, 21)
    for max_rows, max_bytes, fits in (
        (rows, nbytes, True),
        (rows - 1, nbytes, False),
        (rows, nbytes - 1, False),
    ):
        B = _gate_limits(
            monkeypatch,
            PULL_MAX_ROWS=max_rows,
            PULL_MAX_BYTES=max_bytes,
        )
        assert B._column_pull_fits(files, "user_id") is fits
    assert B._column_pull_fits(files, "absent") is False
