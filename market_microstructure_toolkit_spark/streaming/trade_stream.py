"""Streaming trade-sign classification: Lee-Ready as keyed stateful
streaming.

The batch classifier (``operators/trades.py::classify_lee_ready``)
resolves midpoint prints with the tick rule — the sign of the last price
CHANGE on the tape. On a live feed that lookback crosses micro-batch
boundaries, so the streaming twin keeps, per instrument, exactly two
scalars of state: the last seen price and the last non-zero tick sign.
Given the same tape in the same order, the emitted signs equal the batch
answer — the property the ``streaming_trade_signs_replay`` gate
hash-checks against the batch DuckDB oracle.

Scale shape: state is O(instruments) x 2 scalars, sharded by the state
store's hash partitioning; per batch the work is one sort per
(instrument, batch) group plus vectorized numpy over the group's rows.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

TRADE_SIGNS_OUTPUT_SCHEMA = StructType(
    [
        StructField("exchange_id", StringType()),
        StructField("symbol", StringType()),
        StructField("ts_ms", LongType()),
        StructField("raw_nonce", LongType()),
        StructField("mid", DoubleType()),
        StructField("price", DoubleType()),
        StructField("qty", DoubleType()),
        StructField("side", IntegerType()),
    ]
)

#: (last price on the tape, last non-zero tick sign; 0 = none yet)
TRADE_STATE_SCHEMA = StructType(
    [
        StructField("last_price", DoubleType()),
        StructField("tick_sign", IntegerType()),
    ]
)


def stateful_lee_ready(stream: DataFrame) -> DataFrame:
    """Classify a trade stream with Lee-Ready, carrying the tick-rule
    lookback (last price + last non-zero tick sign) across micro-batches
    in two scalars of keyed state.

    Input columns: exchange_id, symbol, ts_ms, raw_nonce, mid, price,
    qty. Rows are processed in (ts_ms, raw_nonce) order within each
    (instrument, batch) group; the stream must deliver batches in tape
    order for cross-batch sign parity (true for replayed history and for
    an in-order feed).
    """

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True).sort_values(
            ["ts_ms", "raw_nonce"], kind="mergesort"
        )
        last_price, tick_sign = (
            state.get if state.exists else (np.nan, 0)
        )
        price = df["price"].to_numpy(dtype=np.float64)
        mid = df["mid"].to_numpy(dtype=np.float64)
        prev = np.concatenate(([last_price], price[:-1]))
        # tick of each print vs the previous PRICE on the tape (NaN prev
        # on the very first print ever -> 0, i.e. no information)
        with np.errstate(invalid="ignore"):
            raw = np.where(price > prev, 1, np.where(price < prev, -1, 0))
        raw[np.isnan(prev)] = 0
        # carry the last non-zero tick forward (vectorized ffill), with
        # the state's sign seeding prints before this batch's first tick
        idx = np.arange(len(raw))
        nz = np.where(raw != 0, idx, -1)
        carry_idx = np.maximum.accumulate(nz)
        carried = np.where(carry_idx >= 0, raw[np.maximum(carry_idx, 0)], tick_sign)
        side = np.where(mid < price, 1, np.where(price < mid, -1, carried))
        out = df.assign(side=side.astype("int32"))
        new_tick = int(carried[-1]) if len(carried) else tick_sign
        state.update((float(price[-1]), new_tick))
        yield out[
            [
                "exchange_id",
                "symbol",
                "ts_ms",
                "raw_nonce",
                "mid",
                "price",
                "qty",
                "side",
            ]
        ]

    return stream.groupBy("exchange_id", "symbol").applyInPandasWithState(
        fn,
        outputStructType=TRADE_SIGNS_OUTPUT_SCHEMA,
        stateStructType=TRADE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ = [
    "BUCKETED_OUTPUT_SCHEMA",
    "BUCKET_STATE_SCHEMA",
    "EPOCH_BUCKET_OUTPUT_SCHEMA",
    "SIGNED_BUCKET_STATE_SCHEMA",
    "TRADE_SIGNS_OUTPUT_SCHEMA",
    "TRADE_STATE_SCHEMA",
    "compose_epoch_buckets",
    "stateful_lee_ready",
    "stateful_signed_buckets",
    "stateful_signed_buckets_composite",
    "stateful_volume_buckets",
    "tape_max_rows_per_key",
    "tape_max_rows_per_key_cached",
    "use_composite_vpin",
]


BUCKETED_OUTPUT_SCHEMA = StructType(
    [
        StructField("exchange_id", StringType()),
        StructField("symbol", StringType()),
        StructField("ts_ms", LongType()),
        StructField("raw_nonce", LongType()),
        StructField("mid", DoubleType()),
        StructField("price", DoubleType()),
        StructField("qty", DoubleType()),
        StructField("side", IntegerType()),
        StructField("bucket", LongType()),
    ]
)

#: cumulative traded volume per instrument (the VPIN volume clock)
BUCKET_STATE_SCHEMA = StructType(
    [StructField("cum_vol", DoubleType())]
)


def stateful_volume_buckets(
    classified: DataFrame, bucket_volume: float
) -> DataFrame:
    """Assign VPIN volume-synchronized buckets on a live signed-trade
    stream: per instrument, one scalar of state — cumulative traded
    volume — makes bucket boundaries batch-invariant (a bucket that
    opens in one micro-batch and fills in the next gets one id, exactly
    the batch ``add_volume_buckets`` assignment; the replay gate
    hash-checks that against the batch DuckDB oracle).

    Input: a signed-trade stream — i.e. a feed whose prints already
    carry an aggressor side (many venues tag it). For a RAW tape that
    needs Lee-Ready classification first, use
    :func:`stateful_signed_buckets` instead: Structured Streaming
    allows only one ``applyInPandasWithState`` per stream, so the two
    operators cannot be chained and the fused variant carries both
    state tuples in one store. Trade sizes are exact binary fractions,
    so the carried cumulative sum is bit-exact vs the batch window
    cumsum.
    """

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True).sort_values(
            ["ts_ms", "raw_nonce"], kind="mergesort"
        )
        (cum0,) = state.get if state.exists else (0.0,)
        qty = df["qty"].to_numpy(dtype=np.float64)
        pre = cum0 + np.cumsum(qty) - qty  # pre-trade cumulative volume
        bucket = np.floor(pre / float(bucket_volume)).astype("int64")
        out = df.assign(bucket=bucket)
        state.update((float(cum0 + qty.sum()),))
        yield out[
            [
                "exchange_id",
                "symbol",
                "ts_ms",
                "raw_nonce",
                "mid",
                "price",
                "qty",
                "side",
                "bucket",
            ]
        ]

    return classified.groupBy("exchange_id", "symbol").applyInPandasWithState(
        fn,
        outputStructType=BUCKETED_OUTPUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: combined Lee-Ready + volume-clock state (one store, three scalars)
SIGNED_BUCKET_STATE_SCHEMA = StructType(
    [
        StructField("last_price", DoubleType()),
        StructField("tick_sign", IntegerType()),
        StructField("cum_vol", DoubleType()),
    ]
)


def stateful_signed_buckets(
    stream: DataFrame, bucket_volume: float
) -> DataFrame:
    """Lee-Ready signs AND VPIN volume buckets in ONE stateful pass —
    Structured Streaming allows a single ``applyInPandasWithState`` per
    stream, so the two per-instrument state tuples (tick-rule lookback,
    volume clock) merge into one three-scalar store. Semantics are
    exactly ``stateful_lee_ready`` followed by
    ``stateful_volume_buckets``; the ``streaming_vpin_replay`` gate
    hash-checks the composition against the batch DuckDB oracle."""

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True).sort_values(
            ["ts_ms", "raw_nonce"], kind="mergesort"
        )
        last_price, tick_sign, cum0 = (
            state.get if state.exists else (np.nan, 0, 0.0)
        )
        price = df["price"].to_numpy(dtype=np.float64)
        mid = df["mid"].to_numpy(dtype=np.float64)
        qty = df["qty"].to_numpy(dtype=np.float64)
        prev = np.concatenate(([last_price], price[:-1]))
        with np.errstate(invalid="ignore"):
            raw = np.where(price > prev, 1, np.where(price < prev, -1, 0))
        raw[np.isnan(prev)] = 0
        idx = np.arange(len(raw))
        nz = np.where(raw != 0, idx, -1)
        carry_idx = np.maximum.accumulate(nz)
        carried = np.where(
            carry_idx >= 0, raw[np.maximum(carry_idx, 0)], tick_sign
        )
        side = np.where(mid < price, 1, np.where(price < mid, -1, carried))
        pre = cum0 + np.cumsum(qty) - qty
        bucket = np.floor(pre / float(bucket_volume)).astype("int64")
        out = df.assign(side=side.astype("int32"), bucket=bucket)
        state.update(
            (float(price[-1]), int(carried[-1]), float(cum0 + qty.sum()))
        )
        yield out[
            [
                "exchange_id",
                "symbol",
                "ts_ms",
                "raw_nonce",
                "mid",
                "price",
                "qty",
                "side",
                "bucket",
            ]
        ]

    return stream.groupBy("exchange_id", "symbol").applyInPandasWithState(
        fn,
        outputStructType=BUCKETED_OUTPUT_SCHEMA,
        stateStructType=SIGNED_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: composite-key (symbol x time-epoch) emission: within-epoch volume
#: clock + within-epoch tick carry; cross-epoch composition happens in
#: compose_epoch_buckets over #epochs summary rows, not #trades rows
EPOCH_BUCKET_OUTPUT_SCHEMA = StructType(
    [
        StructField("exchange_id", StringType()),
        StructField("symbol", StringType()),
        StructField("ts_ms", LongType()),
        StructField("raw_nonce", LongType()),
        StructField("mid", DoubleType()),
        StructField("price", DoubleType()),
        StructField("qty", DoubleType()),
        StructField("epoch", LongType()),
        StructField("pre_vol", DoubleType()),
        StructField("carried", IntegerType()),
    ]
)


def stateful_signed_buckets_composite(
    stream: DataFrame, epoch_ms: int
) -> DataFrame:
    """Composite-state-key half of the hot-key VPIN remedy (sketched in
    ``streaming_vpin_skewed_replay``'s docstring): the state key becomes
    (exchange_id, symbol, epoch) with
    ``epoch = floor(ts_ms / epoch_ms)``, so a symbol that receives 90%
    of the tape no longer serializes through ONE state partition — each
    micro-batch spreads the hot symbol over however many epochs the
    batch's time span covers, and the state op's per-group work
    parallelizes across cores.

    The op carries only WITHIN-epoch accumulators (last price, tick
    carry, cumulative volume) and emits per row the within-epoch
    pre-trade volume ``pre_vol`` plus the within-epoch tick carry
    ``carried`` (0 = none yet; the epoch's FIRST row can never see the
    previous epoch's closing price from inside the group, so its raw
    tick is deliberately left to the composer). Both cross-epoch
    compositions are associative — the volume clock is a sum (exact:
    trade sizes are binary fractions), the tick carry a last-non-null —
    so :func:`compose_epoch_buckets` finishes the job over one summary
    row per epoch. Semantics of the composition are proven identical
    to :func:`stateful_signed_buckets` by hash parity in the gate's
    oracle and ``tests/test_skew_dispatch.py``."""

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        df = pd.concat(frames, ignore_index=True).sort_values(
            ["ts_ms", "raw_nonce"], kind="mergesort"
        )
        last_price, tick_sign, cum0 = (
            state.get if state.exists else (np.nan, 0, 0.0)
        )
        price = df["price"].to_numpy(dtype=np.float64)
        qty = df["qty"].to_numpy(dtype=np.float64)
        prev = np.concatenate(([last_price], price[:-1]))
        with np.errstate(invalid="ignore"):
            raw = np.where(price > prev, 1, np.where(price < prev, -1, 0))
        raw[np.isnan(prev)] = 0  # epoch's first-ever row: unknown here
        idx = np.arange(len(raw))
        nz = np.where(raw != 0, idx, -1)
        carry_idx = np.maximum.accumulate(nz)
        carried = np.where(
            carry_idx >= 0, raw[np.maximum(carry_idx, 0)], tick_sign
        )
        pre = cum0 + np.cumsum(qty) - qty
        out = df.assign(pre_vol=pre, carried=carried.astype("int32"))
        state.update(
            (float(price[-1]), int(carried[-1]), float(cum0 + qty.sum()))
        )
        yield out[
            [
                "exchange_id",
                "symbol",
                "ts_ms",
                "raw_nonce",
                "mid",
                "price",
                "qty",
                "epoch",
                "pre_vol",
                "carried",
            ]
        ]

    keyed = stream.withColumn(
        "epoch", F.floor(F.col("ts_ms") / F.lit(int(epoch_ms)))
    )
    return keyed.groupBy(
        "exchange_id", "symbol", "epoch"
    ).applyInPandasWithState(
        fn,
        outputStructType=EPOCH_BUCKET_OUTPUT_SCHEMA,
        stateStructType=SIGNED_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compose_epoch_buckets(
    rows: DataFrame, bucket_volume: float
) -> DataFrame:
    """Batch composition of :func:`stateful_signed_buckets_composite`'s
    within-epoch emissions into EXACTLY the single-key operator's
    output. Cost shape: one map-side-combinable aggregate to one
    summary row per (symbol, epoch), one per-symbol window over those
    ~#epochs rows (hundreds, not millions), one broadcast join back.

    Composition rules (both associative, hence key-splittable):

    - volume clock: global pre-trade volume = sum of prior epochs'
      totals + within-epoch ``pre_vol``. Trade sizes are exact binary
      fractions, so the re-association is bit-identical.
    - tick carry: the true sign at row i is the FIRST non-null of
      (within-epoch carry at i, the epoch's first-row raw tick
      — computable only here, as sign(first price − previous epoch's
      last price) — and the carry flowing in from prior epochs, itself
      a last-non-null over per-epoch closing signals)."""
    keys = ["exchange_id", "symbol"]
    order = F.struct("ts_ms", "raw_nonce")
    carried_n = F.nullif(F.col("carried"), F.lit(0))
    summ = rows.groupBy(*keys, "epoch").agg(
        F.sum("qty").alias("epoch_qty"),
        F.min_by(F.col("price"), order).alias("first_price"),
        F.max_by(F.col("price"), order).alias("last_price"),
        F.max_by(carried_n, order).alias("carry_end"),
    )
    we = Window.partitionBy(*keys).orderBy("epoch")
    prior = we.rowsBetween(Window.unboundedPreceding, -1)
    prev_close = F.lag("last_price").over(we)
    first_raw = (
        F.when(F.col("first_price") > prev_close, F.lit(1))
        .when(F.col("first_price") < prev_close, F.lit(-1))
        .cast("int")
    )
    summ = summ.withColumn("first_raw", first_raw).select(
        *keys,
        "epoch",
        "first_raw",
        F.coalesce(F.sum("epoch_qty").over(prior), F.lit(0.0)).alias(
            "epoch_offset"
        ),
        # the epoch's closing signal: its own last carry, else its
        # first-row raw; carry_in = last non-null closing signal before
        F.last(
            F.coalesce(F.col("carry_end"), first_raw), ignorenulls=True
        )
        .over(prior)
        .alias("carry_in"),
    )
    joined = rows.join(F.broadcast(summ), [*keys, "epoch"])
    true_sign = F.coalesce(
        F.nullif(F.col("carried"), F.lit(0)),
        F.col("first_raw"),
        F.col("carry_in"),
    )
    price, mid, qty = F.col("price"), F.col("mid"), F.col("qty")
    side = (
        F.when(price > mid, F.lit(1))
        .when(price < mid, F.lit(-1))
        .otherwise(F.coalesce(true_sign, F.lit(0)))
        .cast("int")
    )
    bucket = F.floor(
        (F.col("epoch_offset") + F.col("pre_vol")) / F.lit(bucket_volume)
    ).cast("long")
    return joined.select(
        "exchange_id",
        "symbol",
        "ts_ms",
        "raw_nonce",
        "mid",
        "price",
        "qty",
        side.alias("side"),
        bucket.alias("bucket"),
    )


def tape_max_rows_per_key(
    spark, tape_glob: str, key: str = "symbol"
) -> int:
    """Rows on the HOTTEST state key across a recorded tape — the skew
    hint for the streaming VPIN state-key dispatch. One column-pruned
    batch scan over the tape parquet (reads only ``key``); mirrors the
    batch tier's max-not-average rule (``plans/base.py:
    book_rows_per_key``): keyed ordered state is sequential PER KEY, so
    the wall of the stateful pass is proportional to the hottest key's
    row count, never the average."""
    row = (
        spark.read.parquet(tape_glob)
        .groupBy(key)
        .count()
        .agg(F.max("count"))
        .first()
    )
    return int(row[0] or 0)


#: in-process skew-hint memo: (tape_base, key) -> max rows on hottest key
_SKEW_HINT_MEMO: dict[tuple[str, str], int] = {}


def tape_max_rows_per_key_cached(
    spark, tape_base: str, key: str = "symbol"
) -> int:
    """``tape_max_rows_per_key`` memoized BESIDE the tape it describes:
    the hint is a pure function of the tape contents, and tapes are
    content-keyed + memoized (``plans/base.py:_memo_tape``), so
    re-scanning the tape parquet on every gate invocation would be pure
    waste (a full groupBy over a 90M-row tape per call at sf100; ~1.4 s
    of ``streaming_vpin_skewed_replay``'s sf0.1 wall). Two cache levels
    mirror the tape's own: an in-process dict and a sidecar JSON inside
    the tape dir (atomic tmp+rename publish, so concurrent readers never
    see a torn file; the sidecar ages out with the tape dir itself).
    Falls back to the live scan when the sidecar is unreadable or the
    dir is not writable."""
    import json
    import os
    import tempfile

    memo_key = (tape_base, key)
    hit = _SKEW_HINT_MEMO.get(memo_key)
    if hit is not None:
        return hit
    sidecar = os.path.join(tape_base, f"_skew_hint_{key}.json")
    try:
        with open(sidecar) as f:
            val = int(json.load(f)["max_rows_per_key"])
        _SKEW_HINT_MEMO[memo_key] = val
        return val
    except (OSError, ValueError, KeyError, TypeError):
        pass
    val = tape_max_rows_per_key(spark, f"{tape_base}/data/*/", key)
    try:
        fd, tmp = tempfile.mkstemp(dir=tape_base, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"key": key, "max_rows_per_key": val}, f)
        os.rename(tmp, sidecar)
    except OSError:
        pass  # read-only / vanished tape dir: stay correct, uncached
    _SKEW_HINT_MEMO[memo_key] = val
    return val


#: hottest-key rowcount at or above which the VPIN replay keys its state
#: on (symbol x time-epoch) instead of symbol. The sf10 hot-key tape's
#: 9M-row S0 dispatches composite, measured 5.4x faster at hash parity
#: (REPLAY_DECOMP_r11.json); the sf10 uniform tape's 2.5M rows per key
#: stays single-key, where epoch composition is pure overhead.
VPIN_COMPOSITE_ROWS = 4_000_000


def use_composite_vpin(max_rows_per_key: int) -> bool:
    """Dispatch the VPIN state key: plain per-symbol state below
    :data:`VPIN_COMPOSITE_ROWS` on the hottest key, composite
    (symbol x time-epoch) state at or above it. Dispatch changes the
    physical plan only — both paths are hash-identical
    (tests/test_vpin_composite.py)."""
    return max_rows_per_key >= VPIN_COMPOSITE_ROWS
