"""Composite-state-key VPIN: the hot-key remedy
splits the state key into (symbol, time-epoch) and re-composes across
epochs in batch. These tests pin the COMPOSITION math directly — the
within-epoch emissions are reconstructed with plain batch windows (no
streaming machinery), composed via ``compose_epoch_buckets``, and
compared row-for-row against the single-pass batch reference
(``classify_lee_ready`` + ``add_volume_buckets``). The streaming e2e
twin is hash-checked against the DuckDB oracle by
``streaming_vpin_skewed_replay`` with ``VPIN_COMPOSITE_ROWS`` patched
low enough that the composite path engages.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
BUCKET_VOLUME = 50.0
KEYS = ["exchange_id", "symbol"]
ORDER = ["ts_ms", "raw_nonce"]


def _within_epoch_emissions(tape, epoch_ms):
    """Batch reconstruction of what stateful_signed_buckets_composite
    emits: within-epoch pre-trade volume and within-epoch tick carry
    (0 until the first price CHANGE inside the epoch — the first row's
    raw tick is cross-epoch information the op cannot see)."""
    t = tape.withColumn("epoch", F.floor(F.col("ts_ms") / F.lit(epoch_ms)))
    w = Window.partitionBy(*KEYS, "epoch").orderBy(*ORDER)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("price").over(w)  # null on the epoch's first row
    raw = F.when(F.col("price") > prev, F.lit(1)).when(
        F.col("price") < prev, F.lit(-1)
    )
    return t.select(
        *KEYS,
        *ORDER,
        "mid",
        "price",
        "qty",
        "epoch",
        (
            F.sum("qty").over(run) - F.col("qty")
        ).alias("pre_vol"),
        F.coalesce(F.last(raw, ignorenulls=True).over(run), F.lit(0))
        .cast("int")
        .alias("carried"),
    )


def _reference(tape):
    from market_microstructure_toolkit_spark.operators import trades as T

    out = T.classify_lee_ready(tape, KEYS, ORDER)
    return T.add_volume_buckets(out, BUCKET_VOLUME, KEYS, ORDER)


def _tape(spark, skewed):
    from market_microstructure_toolkit_spark.plans.book import (
        synthetic_trades,
    )

    t = synthetic_trades(spark, SF_DIR)
    if skewed:
        t = t.withColumn(
            "symbol",
            F.when(F.col("raw_nonce") % 10 != 0, F.lit("S0")).otherwise(
                F.col("symbol")
            ),
        )
    return t.select(
        "exchange_id", "symbol", "ts_ms", "raw_nonce", "mid", "price", "qty"
    )


def _assert_composition_exact(spark, tape, epoch_ms):
    from market_microstructure_toolkit_spark.streaming.trade_stream import (
        compose_epoch_buckets,
    )

    composed = compose_epoch_buckets(
        _within_epoch_emissions(tape, epoch_ms), BUCKET_VOLUME
    )
    ref = _reference(tape).select(*composed.columns)
    # row-exact both directions (side and bucket are ints; pre-volume
    # re-association is bit-exact on binary-fraction trade sizes)
    assert composed.exceptAll(ref).count() == 0
    assert ref.exceptAll(composed).count() == 0


def test_composition_uniform(spark):
    tape = _tape(spark, skewed=False)
    lo, hi = tape.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    _assert_composition_exact(spark, tape, max(1, (hi - lo + 1) // 256))


def test_composition_hot_key(spark):
    tape = _tape(spark, skewed=True)
    lo, hi = tape.agg(F.min("ts_ms"), F.max("ts_ms")).first()
    _assert_composition_exact(spark, tape, max(1, (hi - lo + 1) // 256))


def test_composition_degenerate_epochs(spark):
    """epoch_ms=1 (every trade its own epoch, worst-case composition) —
    the cross-epoch rules alone must reproduce the reference."""
    tape = _tape(spark, skewed=True).limit(2000)
    _assert_composition_exact(spark, tape, 1)


def test_dispatch_threshold_default(monkeypatch):
    """Default 4M-row threshold: the sf10 hot-key tape (~9M rows on S0)
    dispatches composite; the sf10 uniform tape (~2.5M rows/key) and
    every <=sf1 tape stay single-key."""
    from market_microstructure_toolkit_spark.streaming import trade_stream as ts

    assert ts.use_composite_vpin(9_000_000)
    assert not ts.use_composite_vpin(2_500_000)
    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", 100)
    assert ts.use_composite_vpin(101)


def test_hint_reports_hot_key_rows(spark, tmp_path, monkeypatch):
    """tape_max_rows_per_key measures the MAX per-key count on a skewed
    tape (not the average), mirroring the batch tier's rule."""
    from market_microstructure_toolkit_spark.streaming.trade_stream import (
        tape_max_rows_per_key,
    )

    d = str(tmp_path / "tape")
    _tape(spark, skewed=True).write.parquet(d)
    n = _tape(spark, skewed=True).count()
    mx = tape_max_rows_per_key(spark, d)
    assert mx >= int(0.85 * n), (mx, n)
    d2 = str(tmp_path / "tape_uniform")
    _tape(spark, skewed=False).write.parquet(d2)
    assert tape_max_rows_per_key(spark, d2) < int(0.5 * n)


def test_dispatch_exact_boundary(monkeypatch):
    """>= semantics at the threshold itself: a future default bump must
    not silently flip the at-threshold path."""
    from market_microstructure_toolkit_spark.streaming import trade_stream as ts

    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", 100)
    assert not ts.use_composite_vpin(99)
    assert ts.use_composite_vpin(100)
    assert ts.use_composite_vpin(101)


def test_gate_boundary_straddle_hash_parity(spark, monkeypatch):
    """Gate-level straddle on the REAL sf0.001 skewed tape: threshold
    set to the tape's actual hottest-key count (composite engages, >=)
    vs one above it (single-key) — identical rows either way."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY
    from market_microstructure_toolkit_spark.streaming import trade_stream as ts

    gate = REGISTRY["streaming_vpin_skewed_replay"].spark

    # prime the gate once so the memoized tape + hint sidecar exist,
    # then read the hint the dispatch will actually consume
    ts._SKEW_HINT_MEMO.clear()
    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", 1)
    baseline = sorted(map(repr, gate(spark, SF_DIR).collect()))
    keys = list(ts._SKEW_HINT_MEMO)
    assert len(keys) == 1, keys  # exactly the gate's tape
    tape_base = keys[0][0]
    hint = ts.tape_max_rows_per_key_cached(spark, tape_base)
    assert hint > 0

    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", hint)
    at = sorted(map(repr, gate(spark, SF_DIR).collect()))
    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", hint + 1)
    above = sorted(map(repr, gate(spark, SF_DIR).collect()))

    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", hint)
    assert ts.use_composite_vpin(hint)  # at-threshold -> composite
    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", hint + 1)
    assert not ts.use_composite_vpin(hint)  # above -> single-key
    assert at == above == baseline
    assert len(at) > 0


def test_cached_hint_equals_live_scan(spark, tmp_path):
    """The tape-sidecar memo returns EXACTLY the
    live scan's value — first call computes + publishes the sidecar,
    second call reads it back without touching Spark."""
    from market_microstructure_toolkit_spark.streaming import trade_stream as ts

    base = str(tmp_path / "tapebase")
    import os

    os.makedirs(f"{base}/data")
    _tape(spark, skewed=True).write.parquet(f"{base}/data/a")
    live = ts.tape_max_rows_per_key(spark, f"{base}/data/*/")
    ts._SKEW_HINT_MEMO.clear()
    first = ts.tape_max_rows_per_key_cached(spark, base)
    assert first == live
    assert os.path.isfile(f"{base}/_skew_hint_symbol.json")
    # poison the in-process memo path to prove the sidecar is read
    ts._SKEW_HINT_MEMO.clear()
    second = ts.tape_max_rows_per_key_cached(None, base)  # spark unused
    assert second == live
    # and the dict memo short-circuits everything
    assert ts.tape_max_rows_per_key_cached(None, base) == live


def test_auto_dispatch_composite_hash_parity(spark, monkeypatch):
    """End-to-end: with the row threshold lowered so the sf0.001 skewed
    tape auto-dispatches composite, the gate's rows equal the
    single-key run at the default threshold — dispatch is a
    physical-plan decision only."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY
    from market_microstructure_toolkit_spark.streaming import trade_stream as ts

    gate = REGISTRY["streaming_vpin_skewed_replay"].spark

    single = sorted(map(repr, gate(spark, SF_DIR).collect()))

    monkeypatch.setattr(ts, "VPIN_COMPOSITE_ROWS", 1)
    auto = sorted(map(repr, gate(spark, SF_DIR).collect()))

    assert auto == single
    assert len(auto) > 0
