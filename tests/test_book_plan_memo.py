"""The synthetic book plan is built once per session and input.

``synthetic_book`` memoizes the DataFrame it returns (the plan, never
data) under (session, events file identity, depth, plants toggle).
These tests pin that a repeat call is a hit, that a change to any part
of the key builds afresh, and that a hit still applies the session's
required confs.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from market_microstructure_toolkit_spark.plans import book as B

TZ = "spark.sql.session.timeZone"


@pytest.fixture
def events_dir(tmp_path, sf_dir):
    """A private copy of the fixture's events table, free to rewrite."""
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_repeat_call_returns_same_plan(spark, events_dir):
    a = B.synthetic_book(spark, events_dir)
    assert B.synthetic_book(spark, events_dir) is a
    assert B.synthetic_book(spark, events_dir, depth=B.BOOK_DEPTH) is a


def test_rewritten_events_misses(spark, events_dir):
    path = f"{events_dir}/events.parquet"
    a = B.synthetic_book(spark, events_dir)
    assert a.count() == 1000
    pq.write_table(pq.read_table(path).slice(0, 100), path)
    b = B.synthetic_book(spark, events_dir)
    assert b is not a
    assert b.count() == 100


def test_touched_events_misses(spark, events_dir):
    """Same bytes, new mtime: the identity changes, so the plan does."""
    path = f"{events_dir}/events.parquet"
    a = B.synthetic_book(spark, events_dir)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert B.synthetic_book(spark, events_dir) is not a


def test_plants_toggle_misses(spark, events_dir, monkeypatch):
    crossed = F.col("best_bid") > F.col("best_ask")
    monkeypatch.delenv("SPARK_GRAFT_PLANTS", raising=False)
    on = B.synthetic_book(spark, events_dir)
    monkeypatch.setenv("SPARK_GRAFT_PLANTS", "0")
    off = B.synthetic_book(spark, events_dir)
    assert off is not on
    # event_ids 486 and 973 carry the crossed-book plant
    assert on.filter(crossed).count() == 2
    assert off.filter(crossed).count() == 0
    monkeypatch.delenv("SPARK_GRAFT_PLANTS")
    assert B.synthetic_book(spark, events_dir) is on


def test_other_depth_misses(spark, events_dir):
    five = B.synthetic_book(spark, events_dir)
    one = B.synthetic_book(spark, events_dir, depth=1)
    assert one is not five
    assert "bid1_price" in one.columns and "bid2_price" not in one.columns


def test_new_session_misses(spark, events_dir):
    a = B.synthetic_book(spark, events_dir)
    other = spark.newSession()
    b = B.synthetic_book(other, events_dir)
    assert b is not a
    assert b.sparkSession is other
    assert B.synthetic_book(other, events_dir) is b


def test_hit_applies_session_confs(spark, events_dir):
    a = B.synthetic_book(spark, events_dir)
    prev = spark.conf.get(TZ)
    spark.conf.set(TZ, "America/New_York")
    try:
        assert B.synthetic_book(spark, events_dir) is a
        assert spark.conf.get(TZ) == "UTC"
    finally:
        spark.conf.set(TZ, prev)


def test_missing_events_is_not_memoized(spark, tmp_path):
    """No identity (the stat fails): nothing is stored, and the read
    raises as it would without the memo."""
    n = len(B._BOOK_MEMO)
    with pytest.raises(Exception):
        B.synthetic_book(spark, str(tmp_path))
    assert len(B._BOOK_MEMO) == n
