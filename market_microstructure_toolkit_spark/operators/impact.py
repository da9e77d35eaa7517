"""Execution-impact simulators (SURVEY §2.7 X1-X6): TWAP / VWAP book-walk
simulation over recorded L2 snapshots.

Spark-first architecture:

- The book walk (X2) is a closed-form ``F.aggregate`` over the ladder array
  — fully distributed, codegen'd, O(K) per row (functions/arrays.walk_book).
- Slice/timestamp schedules are config-sized (10-100 entries) and, when
  stochastic, must reproduce the reference's seeded ``random.Random``
  sequences — so they are computed on the DRIVER, never inside tasks
  (determinism rule, SURVEY §4.3).
- The VWAP carry recurrence (X6) is sequential over <= ``slices`` rows;
  the picked slice rows (already reduced to ladders) are collected and the
  loop runs driver-side — bounded by config, not data size (SURVEY §2.7 X6
  option (a)).

Semantics cite the reference (``impact.py``, ``impact_twap.py``,
``impact_vwap.py``) per function; validated against the shipped regression
oracles (BASELINE.md): naive TWAP buy 50/20/25 -> vwap 4301.466768, VWAP
buy 50/24/25/fee5 -> vwap 4306.753331.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from market_microstructure_toolkit_spark.functions.arrays import (
    ladder_from_wide,
    truncate_at_first_blank,
    valid_levels,
    walk_book,
)

Side = str  # "buy" | "sell"


@dataclass
class TwapConfig:
    """Mirror of the reference ``TWAPConfig`` (impact_twap.py:27-50)."""

    side: Side
    target_qty: float
    slices: int
    fee_bps: float = 0.0
    depth_cap: int | None = None
    allow_residual: bool = False
    jitter_ms: int = 0
    schedule: str = "equal"  # "equal" | "stochastic" | "almgren"
    seed: int | None = None
    kappa: float = 0.0  # almgren urgency per slice interval (0 -> TWAP)


@dataclass
class VwapConfig:
    """Mirror of the reference ``ExecConfig`` (impact_vwap.py:61-92)."""

    side: Side
    target_qty: float
    slices: int = 20
    depth_k: int = 10
    fee_bps: float = 0.0
    proxy: str = "topk_sum"  # "topk_sum" | "l1_sum"
    min_slice_qty: float | None = None


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

def _exec_side(side: Side) -> str:
    """Buy lifts asks, sell hits bids (impact.py:47-71)."""
    return "ask" if side == "buy" else "bid"


def _mid_col() -> F.Column:
    """Prefer a precomputed ``mid`` column, else derive (impact.py:166-180)."""
    return (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)


def _slip_bps(vwap: float | None, ref_mid: float | None, side: Side) -> float | None:
    """X5 convention (impact_twap.py:324-337):
    buy ``1e4*(vwap/mid - 1)``, sell ``1e4*(1 - vwap/mid)``."""
    if vwap is None or ref_mid is None or ref_mid <= 0 or not math.isfinite(vwap):
        return None
    if side == "buy":
        return 1e4 * (vwap / ref_mid - 1.0)
    return 1e4 * (1.0 - vwap / ref_mid)


def _slip_bps_naive(
    vwap: float | None, ref_mid: float | None, side: Side
) -> float | None:
    """X3/X4 convention (impact.py:183-193 via its call sites at
    impact.py:304-309): buy ``_bps(vwap, mid)``, sell ``_bps(mid, vwap)``
    — i.e. sell slippage is ``1e4*(mid/vwap - 1)``, NOT the X5 flip. The
    two differ in the second order (mid=100, vwap=99 -> 101.01 vs 100.0
    bps), so each simulator keeps its own file's formula.
    """
    if vwap is None or ref_mid is None or not math.isfinite(vwap):
        return None
    if side == "buy":
        return None if ref_mid == 0 else 1e4 * (vwap / ref_mid - 1.0)
    return None if vwap == 0 else 1e4 * (ref_mid / vwap - 1.0)


def _iso_expr(df: DataFrame):
    """``iso`` column when present, else NULL (recordings carry it, derived
    book frames may not)."""
    return F.col("iso") if "iso" in df.columns else F.lit(None).cast("string")


def _series_keys(df: DataFrame) -> list[str]:
    """Instrument key columns present on the frame (partition the sims'
    windows so no stage funnels through one task at scale)."""
    return [k for k in ("exchange_id", "symbol") if k in df.columns]


def _series_order(df: DataFrame) -> list[str]:
    """Total order for a recording: (ts_ms, raw_nonce) when the nonce
    column exists (ts_ms alone can tie after millisecond truncation)."""
    return ["ts_ms", "raw_nonce"] if "raw_nonce" in df.columns else ["ts_ms"]


def _require_single_series(df: DataFrame) -> None:
    """The simulators take ONE recording (single instrument) — the
    reference's unit of work (each CLI run loads one recorded file). A
    merged multi-instrument frame would silently interleave books into
    meaningless schedules, so fail fast instead; callers filter (or loop
    instruments driver-side) first. Cost: one tiny distinct-limit job.
    """
    keys = _series_keys(df)
    if keys and df.select(*keys).distinct().limit(2).count() > 1:
        raise ValueError(
            "impact simulators take a single-instrument recording; "
            f"filter {keys} before simulating (got multiple series)"
        )


def _count_single_series(
    df: DataFrame,
    narrow: DataFrame | None = None,
    n_rows: int | None = None,
) -> int:
    """Row count + single-series contract in ONE aggregate job (round 13,
    guide §1.2/§2.3): the former ``_require_single_series`` distinct-limit
    probe and the separate ``count()`` each cost a full scheduled scan per
    simulator call; a single hash aggregate computing ``count(*)`` and
    ``count_distinct(keys)`` together halves that fixed cost. Both are
    partial-aggregated map-side, so at scale the job moves a handful of
    rows per partition. ``narrow`` optionally points the scan at an
    already-projected frame (must still carry the key columns).

    ``n_rows`` (round 13, guide §1.2): metadata-derived row count for
    inputs whose single-series contract holds BY CONSTRUCTION (the
    caller filtered to one instrument literal and derived the count
    from source-file metadata) — skips the scheduled probe job
    entirely, which at 100 TB is a full input pass per simulator call.
    Hinting callers take responsibility for both the count's exactness
    and the contract; the same hint-with-Spark-fallback pattern as
    ``lsh_banded_pairs(n_rows=...)``.

    Raises the same error as :func:`_require_single_series` on a
    multi-instrument frame; returns the row count.
    """
    if n_rows is not None:
        # Hint contract (r13 ADVICE): the hint BYPASSES the
        # single-series validation, so it is for bench-gate-internal
        # callers that filtered to one instrument literal and derived
        # the count from source metadata. A negative value can only be
        # a caller bug — fail loudly instead of minting an empty/absurd
        # schedule.
        n_rows = int(n_rows)
        if n_rows < 0:
            raise ValueError(f"n_rows hint must be >= 0 (got {n_rows})")
        return n_rows
    src = narrow if narrow is not None else df
    keys = _series_keys(df)
    aggs = [F.count(F.lit(1)).alias("__n")]
    if keys:
        # distinct over a STRUCT of the keys: a struct is never NULL even
        # when a field is, so null-keyed rows count as a series exactly
        # like the old ``select(keys).distinct()`` probe did
        aggs.append(
            F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias(
                "__g"
            )
        )
    row = src.agg(*aggs).collect()[0]
    if keys and row["__g"] > 1:
        raise ValueError(
            "impact simulators take a single-instrument recording; "
            f"filter {keys} before simulating (got multiple series)"
        )
    return int(row["__n"])


def _numbered(df: DataFrame) -> DataFrame:
    """Attach 0-based positional index over the time-ordered series.

    The simulators take ONE recording (single instrument) — the
    reference's unit of work. The window still partitions by the
    instrument keys when present: a no-op on the required single-series
    input, but it keeps the sort out of a single task (and the plan free
    of ``WindowExec: No Partition Defined``) if a caller feeds a
    multi-instrument frame, where positions then number each series
    independently.
    """
    keys = _series_keys(df)
    order = _series_order(df)
    w = (
        Window.partitionBy(*keys).orderBy(*order)
        if keys
        else Window.orderBy(*order)
    )
    return df.withColumn("__pos", F.row_number().over(w) - 1)


def _linspace_picks(n: int, slices: int) -> list[int]:
    """np.linspace(0, n-1, slices).round -> sorted unique (impact.py:196-224).

    numpy rounds half-to-even; ``round`` on Python floats does the same, so
    plain ``round`` reproduces numpy here.
    """
    if n == 0:
        return []
    if slices <= 1:
        return [n - 1]
    step = (n - 1) / (slices - 1)
    return sorted({int(round(i * step)) for i in range(slices)})


def _slice_table(
    picked: DataFrame,
    side: Side,
    qty_expr,
    depth: int,
    blank_mode: str = "skip",
    fee_bps: float = 0.0,
) -> DataFrame:
    """Walk the book at each picked row: per-slice fill columns (X1+X2).

    ``blank_mode``: 'skip' drops invalid levels and continues
    (impact.py:74-108); 'stop' truncates at the first invalid level
    (impact_twap.py:65-98).
    """
    ladder = ladder_from_wide(_exec_side(side), depth)
    ladder = (
        truncate_at_first_blank(ladder) if blank_mode == "stop" else valid_levels(ladder)
    )
    fill = walk_book(ladder, qty_expr)
    eff = F.lit(1.0 + fee_bps / 1e4) if side == "buy" else F.lit(1.0 - fee_bps / 1e4)
    eff_cost = F.greatest(F.col("__fill.cost") * eff, F.lit(0.0))
    return picked.withColumn("__fill", fill).select(
        "*",
        F.col("__fill.filled").alias("filled_qty"),
        F.col("__fill.cost").alias("fill_cost"),
        eff_cost.alias("fill_cost_eff"),
        F.col("__fill.levels_touched").alias("levels_touched"),
        _mid_col().alias("__mid"),
    ).drop("__fill")


# ---------------------------------------------------------------------------
# X3 — naive TWAP (impact.py:230-321)
# ---------------------------------------------------------------------------

def simulate_twap_naive(
    df: DataFrame, side: Side, total_qty: float, slices: int, depth: int,
    want_summary: bool = True, n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Equal slices at linspace rows; walk each; no book feedback across
    slices (impact.py:205-207). Returns (summary_df, per_slice_df).

    The per-slice walk is fully distributed (each picked row walks its own
    ladder inside one codegen stage); only the O(slices) summary reduces.

    ``want_summary=False`` skips the summary's aggregate job entirely and
    returns ``(None, per_slice_df)`` — the per-slice gates discard the
    summary, and its eager ``agg().collect()`` was a full extra
    evaluation of the walk lineage per call (round 13, guide §1.2).
    """
    assert side in ("buy", "sell")
    n = _count_single_series(df, n_rows=n_rows)
    picks = _linspace_picks(n, slices)
    if not picks:
        empty = df.sparkSession.createDataFrame([], "slice int")
        return empty, empty
    slice_qty = total_qty / len(picks)

    numbered = _numbered(df)
    picked = numbered.filter(F.col("__pos").isin(picks))
    walked = _slice_table(picked, side, F.lit(slice_qty), depth, blank_mode="skip")

    keys = _series_keys(df)
    rank = (
        Window.partitionBy(*keys).orderBy("__pos")
        if keys
        else Window.orderBy("__pos")
    )
    per_slice = walked.select(
        F.row_number().over(rank).alias("slice"),
        F.col("ts_ms"),
        _iso_expr(walked).alias("iso"),
        F.col("filled_qty"),
        F.lit(slice_qty).alias("slice_target_qty"),
        F.when(
            F.col("filled_qty") > 0, F.col("fill_cost") / F.col("filled_qty")
        ).alias("slice_vwap"),
        F.col("levels_touched"),
        F.col("__pos"),
        F.col("__mid"),
    )

    if not want_summary:
        return None, per_slice.drop("__pos", "__mid")

    first_pos, last_pos = picks[0], picks[-1]
    agg = per_slice.agg(
        F.sum("filled_qty").alias("filled"),
        F.sum(F.col("slice_vwap") * F.col("filled_qty")).alias("notional"),
        F.max(F.when(F.col("__pos") == first_pos, F.col("__mid"))).alias("mid_open"),
        F.max(F.when(F.col("__pos") == last_pos, F.col("__mid"))).alias("mid_close"),
    ).collect()[0]

    filled = agg["filled"] or 0.0
    notional = agg["notional"] or 0.0
    vwap = notional / filled if filled > 0 else None
    summary = Row(
        side=side,
        target_qty=float(total_qty),
        filled_qty=float(filled),
        vwap=vwap,
        notional=float(notional),
        slippage_bps_vs_mid_open=_slip_bps_naive(vwap, agg["mid_open"], side),
        slippage_bps_vs_mid_close=_slip_bps_naive(vwap, agg["mid_close"], side),
        slices=len(picks),
    )
    return (
        df.sparkSession.createDataFrame([summary]),
        per_slice.drop("__pos", "__mid"),
    )


def simulate_twap_naive_grouped(
    df: DataFrame, side: Side, total_qty: float, slices: int, depth: int,
    group_counts: dict[tuple, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """X3 naive TWAP fanned out over EVERY instrument in the frame in one
    pass — the scale extension the single-series API deliberately refuses
    (reference parity anchor: each reference CLI run is one recording,
    impact_twap.py:191-311; a 100x-instrument user must not loop that
    driver-side).

    Semantics: each (exchange_id, symbol) series independently runs the
    single-series simulator's schedule — ``total_qty`` is the per-
    instrument parent order, linspace picks over that series' own row
    count, slice qty = total_qty / n_picks. Per-series results are
    row-for-row identical to ``simulate_twap_naive`` on the filtered
    series (pinned in tests/test_impact.py).

    Scale shape — exactly two distributed jobs, no per-instrument loop:

    1. one ``groupBy(keys).count()`` (G rows to the driver — instrument
       count is config-scale metadata, not data);
    2. schedules for all G instruments built driver-side (G * slices
       rows), broadcast back, and joined against the positionally
       numbered frame — the row_number window and every downstream
       stage partitions by instrument keys, so parallelism GROWS with
       instrument count instead of funneling.

    Returns (summary_df one row per instrument, per_slice_df keyed by
    instrument).
    """
    assert side in ("buy", "sell")
    keys = _series_keys(df)
    if not keys:
        raise ValueError(
            "grouped simulator needs instrument key columns "
            "(exchange_id/symbol); for a bare single recording use "
            "simulate_twap_naive"
        )
    # group_counts (round 13, guide §1.2): metadata-derived
    # {key-tuple: rowcount} in _series_keys order skips the scheduled
    # groupBy-count job — at 100 TB a full input pass per call. Hinting
    # callers own the counts' exactness (same contract as the
    # single-series n_rows hint); the Spark aggregate is the fallback.
    if group_counts is not None:
        counts = list(group_counts.items())
        if any(n < 0 for _, n in counts):
            raise ValueError("group_counts hint holds a negative count")
    else:
        counts = [
            (tuple(r[k] for k in keys), r["n"])
            for r in df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).collect()
        ]
    sched_rows = []
    for gkey, n in counts:
        picks = _linspace_picks(n, slices)
        if not picks:
            continue
        sq = total_qty / len(picks)
        for s, pos in enumerate(picks, start=1):
            sched_rows.append(
                tuple(gkey)
                + (pos, s, sq, pos == picks[0], pos == picks[-1])
            )
    sched_schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", __pos int, slice int, slice_target_qty double"
        + ", __is_first boolean, __is_last boolean"
    )
    spark = df.sparkSession
    if not sched_rows:
        empty = spark.createDataFrame([], "slice int")
        return empty, empty
    sched = spark.createDataFrame(sched_rows, sched_schema)
    picked = _numbered(df).join(F.broadcast(sched), [*keys, "__pos"])
    walked = _slice_table(picked, side, F.col("slice_target_qty"), depth, "skip")
    per_slice = walked.select(
        *keys,
        "slice",
        "ts_ms",
        _iso_expr(walked).alias("iso"),
        "filled_qty",
        "slice_target_qty",
        F.when(
            F.col("filled_qty") > 0, F.col("fill_cost") / F.col("filled_qty")
        ).alias("slice_vwap"),
        "levels_touched",
        "__mid",
        "__is_first",
        "__is_last",
    )
    gsum = per_slice.groupBy(*keys).agg(
        F.sum("filled_qty").alias("filled_qty"),
        F.sum(F.col("slice_vwap") * F.col("filled_qty")).alias("notional"),
        F.max(F.when(F.col("__is_first"), F.col("__mid"))).alias("__mid_open"),
        F.max(F.when(F.col("__is_last"), F.col("__mid"))).alias("__mid_close"),
        F.count(F.lit(1)).alias("slices"),
    )
    vwap = F.when(
        F.col("filled_qty") > 0, F.col("notional") / F.col("filled_qty")
    )

    def slip_expr(vwap_col, ref_col):
        # _slip_bps_naive as a column expression (X3 convention)
        if side == "buy":
            return F.when(
                vwap_col.isNotNull() & (ref_col != 0),
                (vwap_col / ref_col - F.lit(1.0)) * F.lit(1e4),
            )
        return F.when(
            vwap_col.isNotNull() & (vwap_col != 0),
            (ref_col / vwap_col - F.lit(1.0)) * F.lit(1e4),
        )

    summary = gsum.select(
        *keys,
        F.lit(side).alias("side"),
        F.lit(float(total_qty)).alias("target_qty"),
        F.coalesce(F.col("filled_qty"), F.lit(0.0)).alias("filled_qty"),
        vwap.alias("vwap"),
        F.coalesce(F.col("notional"), F.lit(0.0)).alias("notional"),
        slip_expr(vwap, F.col("__mid_open")).alias("slippage_bps_vs_mid_open"),
        slip_expr(vwap, F.col("__mid_close")).alias(
            "slippage_bps_vs_mid_close"
        ),
        F.col("slices"),
    )
    return summary, per_slice.drop("__mid", "__is_first", "__is_last")


# ---------------------------------------------------------------------------
# X4 — VWAP-now baseline (impact.py:324-396)
# ---------------------------------------------------------------------------

def simulate_vwap_onbook(
    df: DataFrame, side: Side, total_qty: float, depth: int
) -> DataFrame:
    """One-shot walk of the FIRST snapshot; mids from first/last rows.

    One scan total (round 13, guide §1.2/§2.3): the former four jobs —
    single-series probe, count, first-row top-1, last-row top-1 — fuse
    into a single hash aggregate (``count`` + ``count_distinct`` +
    ``min_by``/``max_by`` over the (ts_ms, raw_nonce) total order; ties
    impossible, so the picks equal the old orderBy().limit(1) rows). The
    ladder walk then runs on the one collected row via a local 1-row
    frame — same ``_slice_table`` expression, identical arithmetic.
    """
    assert side in ("buy", "sell")
    keys = _series_keys(df)
    order = _series_order(df)
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.min_by(F.struct(*df.columns), F.struct(*order)).alias("__first"),
        F.max_by(_mid_col(), F.struct(*order)).alias("__mid_close"),
    ]
    if keys:
        aggs.append(
            F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias(
                "__g"
            )
        )
    probe = df.agg(*aggs).collect()[0]
    if keys and probe["__g"] > 1:
        raise ValueError(
            "impact simulators take a single-instrument recording; "
            f"filter {keys} before simulating (got multiple series)"
        )
    if probe["__n"] == 0:
        return df.sparkSession.createDataFrame([], "side string")
    first = df.sparkSession.createDataFrame([probe["__first"]], df.schema)
    walked = _slice_table(first, side, F.lit(float(total_qty)), depth, "skip")
    row = walked.select(
        "ts_ms", _iso_expr(walked).alias("iso"), "filled_qty", "fill_cost",
        "levels_touched", "__mid"
    ).collect()[0]
    mid_close = probe["__mid_close"]
    filled, cost = row["filled_qty"], row["fill_cost"]
    vwap = cost / filled if filled and filled > 0 else None
    return df.sparkSession.createDataFrame(
        [
            Row(
                side=side,
                target_qty=float(total_qty),
                filled_qty=float(filled or 0.0),
                vwap=vwap,
                notional=float(cost or 0.0),
                slippage_bps_vs_mid_open=_slip_bps_naive(vwap, row["__mid"], side),
                slippage_bps_vs_mid_close=_slip_bps_naive(vwap, mid_close, side),
                slices=1,
                levels_touched=int(row["levels_touched"] or 0),
            )
        ]
    )


def simulate_vwap_onbook_grouped(
    df: DataFrame, side: Side, total_qty: float, depth: int
) -> DataFrame:
    """X4 one-shot VWAP fanned out over EVERY instrument in one pass —
    the grouped companion to ``simulate_twap_naive_grouped`` (reference
    parity anchor: one CLI run = one recording, impact.py:324-396; a
    100x-instrument user must not loop the single-series API).

    Semantics per (exchange_id, symbol): walk that series' FIRST
    snapshot (full (ts_ms, raw_nonce) order) for the whole
    ``total_qty``; slippage against that series' first/last mids in the
    naive X3/X4 convention. Row-for-row identical to
    ``simulate_vwap_onbook`` on each filtered series (pinned in tests).

    Scale shape — fully distributed, zero driver-side collects: two
    instrument-keyed row_number windows pick each series' first/last
    rows (G rows each), the array-fold walk runs on the G first rows,
    and a G-vs-G key join grafts the closing mid. Parallelism grows
    with instrument count; nothing funnels through the driver.
    """
    assert side in ("buy", "sell")
    keys = _series_keys(df)
    if not keys:
        raise ValueError(
            "grouped simulator needs instrument key columns "
            "(exchange_id/symbol); for a bare single recording use "
            "simulate_vwap_onbook"
        )
    order = _series_order(df)
    w_first = Window.partitionBy(*keys).orderBy(
        *[F.col(c).asc() for c in order]
    )
    w_last = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order]
    )
    first = (
        df.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    walked = _slice_table(first, side, F.lit(float(total_qty)), depth, "skip")
    last_mid = (
        df.withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select(*keys, _mid_col().alias("__mid_close"))
    )
    out = walked.join(last_mid, keys)
    filled, cost = F.col("filled_qty"), F.col("fill_cost")
    vwap = F.when(filled > 0, cost / filled)
    mid_open, mid_close = F.col("__mid"), F.col("__mid_close")

    def slip(ref):
        # naive X3/X4 convention (see _slip_bps_naive)
        if side == "buy":
            return F.when(
                (filled > 0) & (ref != 0), F.lit(1e4) * (vwap / ref - F.lit(1.0))
            )
        return F.when(
            (filled > 0) & (vwap != 0), F.lit(1e4) * (ref / vwap - F.lit(1.0))
        )

    return out.select(
        *keys,
        F.lit(side).alias("side"),
        F.lit(float(total_qty)).alias("target_qty"),
        F.coalesce(filled, F.lit(0.0)).alias("filled_qty"),
        vwap.alias("vwap"),
        F.coalesce(cost, F.lit(0.0)).alias("notional"),
        slip(mid_open).alias("slippage_bps_vs_mid_open"),
        slip(mid_close).alias("slippage_bps_vs_mid_close"),
        F.lit(1).alias("slices"),
        F.coalesce(F.col("levels_touched"), F.lit(0)).cast("int").alias(
            "levels_touched"
        ),
    )


# ---------------------------------------------------------------------------
# X5 — realistic TWAP (impact_twap.py:191-311)
# ---------------------------------------------------------------------------

def almgren_sizes(total_qty: float, slices: int, kappa: float) -> list[float]:
    """Almgren-Chriss (2001) optimal-execution slice sizes.

    Discrete risk-averse trajectory over N unit slice intervals
    (T = N): the optimal holdings decay as
    ``x_j = X sinh(kappa (T - t_j)) / sinh(kappa T)``, so slice j trades
    ``n_j = 2 X sinh(kappa/2) / sinh(kappa T) * cosh(kappa (T - t_{j-1/2}))``
    — front-loaded for urgency ``kappa > 0`` (risk aversion x temporary
    impact calibration collapses into the single kappa knob at schedule
    level), converging to the equal-slice TWAP as kappa -> 0. Sizes sum
    to X exactly by the sinh telescoping; computed DRIVER-side (config
    constants, like the seeded stochastic draws) and embedded as plan
    literals, so the Spark plan and the SQL oracle consume bit-identical
    doubles.
    """
    if slices <= 0:
        return []
    if kappa <= 0.0:
        per = total_qty / slices
        sizes = [per] * slices
        sizes[-1] = total_qty - sum(sizes[:-1])
        return sizes
    big_t = float(slices)
    denom = math.sinh(kappa * big_t)
    lead = 2.0 * total_qty * math.sinh(kappa / 2.0) / denom
    return [
        lead * math.cosh(kappa * (big_t - (j - 0.5))) for j in range(1, slices + 1)
    ]


def _slice_sizes(cfg: TwapConfig) -> list[float]:
    """Equal (FP-drift-corrected last slice) or Dirichlet-stochastic sizes —
    seeded ``random.Random`` reproduces the reference draws exactly
    (impact_twap.py:112-137)."""
    if cfg.slices <= 0:
        return []
    if cfg.schedule == "equal":
        per = cfg.target_qty / cfg.slices
        sizes = [per] * cfg.slices
        sizes[-1] = cfg.target_qty - sum(sizes[:-1])
        return sizes
    if cfg.schedule == "almgren":
        return almgren_sizes(cfg.target_qty, cfg.slices, cfg.kappa)
    rng = random.Random(cfg.seed)
    draws = [rng.gammavariate(3.0, 1.0) for _ in range(cfg.slices)]
    total = sum(draws)
    return [cfg.target_qty * (d / total) for d in draws]


def simulate_twap_real(
    df: DataFrame, cfg: TwapConfig, want_summary: bool = True,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Jittered schedule + nearest-row as-of + stop-at-first-blank walk +
    fees (impact_twap.py:191-311). Returns (summary_df, per_slice_df).

    Schedule timestamps need the ts at ``slices`` evenly-spaced positions:
    those rows are fetched distributively (row_number filter), jitter is
    applied driver-side with the seeded RNG, and each jittered target maps
    back to its nearest row — the reference's monotone two-pointer breaks
    ties toward the LATER row, so the rank orders (abs_delta, ts desc).

    ``want_summary=False`` skips the summary aggregate job and returns
    ``(None, per_slice_df)`` — the per-slice gates discard the summary,
    and its eager ``agg().collect()`` re-evaluated the full walk lineage
    once per call (round 13, guide §1.2).
    """
    assert cfg.side in ("buy", "sell")
    sizes = _slice_sizes(cfg)
    if not sizes:
        raise ValueError("No slices generated")
    # Positions come from a narrow projection (keys + order cols): the
    # row_number sort then moves a few bytes/row, not the full wide book
    # row, and partitions by instrument instead of one global task.
    # Count + single-series contract fused into one aggregate over the
    # same narrow projection (round 13).
    ts_only = df.select(*_series_keys(df), *_series_order(df))
    n = _count_single_series(df, narrow=ts_only, n_rows=n_rows)
    if n == 0:
        raise ValueError("empty input")

    idxs = [round(i * (n - 1) / max(1, cfg.slices - 1)) for i in range(cfg.slices)]
    pos_ts = {
        r["__pos"]: r["ts_ms"]
        for r in _numbered(ts_only)
        .filter(F.col("__pos").isin(sorted(set(idxs))))
        .collect()
    }
    chosen = [int(pos_ts[i]) for i in idxs]
    if cfg.jitter_ms > 0:
        rng = random.Random(cfg.seed)
        half = cfg.jitter_ms / 2.0
        chosen = [int(t + rng.uniform(-half, half)) for t in chosen]

    # Nearest row per target (J1). Targets are config-sized -> broadcast.
    targets = df.sparkSession.createDataFrame(
        [(k, t) for k, t in enumerate(chosen, start=1)], "slice int, target_ts long"
    )
    # Nearest-row match in two narrow phases instead of ranking the full
    # wide book x slices: (1) resolve each slice's nearest TIMESTAMP with
    # a hash aggregate over a ts-only projection (map-side combine leaves
    # <= slices rows per partition; ordering (abs_delta, -ts) ties toward
    # the LATER row like the reference's two-pointer); (2) fetch those
    # <= slices wide rows back with an isin filter that pushes down to
    # the scan. Wide rows never enter a shuffle or sort.
    near = (
        df.select("ts_ms")
        .crossJoin(F.broadcast(targets))
        .groupBy("slice")
        .agg(
            F.min_by(
                "ts_ms",
                F.struct(
                    F.abs(F.col("ts_ms") - F.col("target_ts")).alias("d"),
                    (-F.col("ts_ms")).alias("later_first"),
                ),
            ).alias("match_ts")
        )
        .collect()
    )
    match_df = df.sparkSession.createDataFrame(
        [(int(r["slice"]), int(r["match_ts"])) for r in near],
        "slice int, match_ts long",
    )
    # Duplicate timestamps: ts_ms is constant within a slice partition, so
    # the dedup must order by a TOTAL order — descending nonce picks the
    # LAST-written duplicate, mirroring where the reference's monotone
    # two-pointer lands (impact_twap.py nearest-ts scan).
    dup_order = (
        [F.col("raw_nonce").desc()]
        if "raw_nonce" in df.columns
        else [F.col("ts_ms")]
    )
    wdup = Window.partitionBy("slice").orderBy(*dup_order)
    matched = (
        df.filter(F.col("ts_ms").isin(list({int(r["match_ts"]) for r in near})))
        .join(F.broadcast(match_df), F.col("ts_ms") == F.col("match_ts"))
        .withColumn("__rn", F.row_number().over(wdup))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "match_ts")
    )

    depth = cfg.depth_cap if cfg.depth_cap is not None else 10_000
    # depth inference bound: ladder_from_wide needs real columns
    from market_microstructure_toolkit_spark.schema import infer_depth

    depth = min(depth, infer_depth(df))

    sizes_df = df.sparkSession.createDataFrame(
        [(k, s) for k, s in enumerate(sizes, start=1)], "slice int, slice_target_qty double"
    )
    matched = matched.join(F.broadcast(sizes_df), "slice")
    walked = _slice_table(
        matched, cfg.side, F.col("slice_target_qty"), depth,
        blank_mode="stop", fee_bps=cfg.fee_bps,
    )
    per_slice = walked.select(
        "slice",
        F.col("ts_ms").cast("long").alias("ts_ms"),
        F.coalesce(_iso_expr(walked), F.lit("")).alias("iso"),
        "filled_qty",
        "slice_target_qty",
        F.when(F.col("filled_qty") > 0, F.col("fill_cost_eff") / F.col("filled_qty"))
        .otherwise(F.lit(float("nan")))
        .alias("slice_vwap"),
        "levels_touched",
        "fill_cost",
        "__mid",
    )

    if not want_summary:
        return None, per_slice.drop("fill_cost", "__mid")

    agg = per_slice.agg(
        F.sum("filled_qty").alias("filled"),
        F.sum("fill_cost").alias("notional_prefee"),
        F.sum("levels_touched").alias("levels_agg"),
        F.max(F.when(F.col("slice") == 1, F.col("__mid"))).alias("mid_open"),
        F.max(F.when(F.col("slice") == cfg.slices, F.col("__mid"))).alias("mid_close"),
    ).collect()[0]
    filled = agg["filled"] or 0.0
    pre = agg["notional_prefee"] or 0.0
    fee = pre * (cfg.fee_bps / 1e4)
    eff = pre + fee if cfg.side == "buy" else max(0.0, pre - fee)
    vwap = eff / filled if filled > 0 else float("nan")
    summary = Row(
        side=cfg.side,
        target_qty=float(cfg.target_qty),
        filled_qty=float(filled),
        vwap=vwap,
        notional=float(eff),
        fee_bps=float(cfg.fee_bps),
        depth_cap=cfg.depth_cap if cfg.depth_cap is not None else -1,
        allow_residual=cfg.allow_residual,
        slices=cfg.slices,
        schedule=cfg.schedule,
        slippage_bps_vs_mid_open=_slip_bps(vwap, agg["mid_open"], cfg.side),
        slippage_bps_vs_mid_close=_slip_bps(vwap, agg["mid_close"], cfg.side),
        levels_touched_avg=float(agg["levels_agg"] or 0) / max(1, cfg.slices),
    )
    return df.sparkSession.createDataFrame([summary]), per_slice.drop("fill_cost", "__mid")


# ---------------------------------------------------------------------------
# X6 — realistic VWAP with carry (impact_vwap.py:247-377)
# ---------------------------------------------------------------------------

def _np_round_half_even(x: float) -> int:
    """pandas/numpy .round() semantics used for bucket picking."""
    f = math.floor(x)
    diff = x - f
    if diff > 0.5:
        return f + 1
    if diff < 0.5:
        return f
    return f if f % 2 == 0 else f + 1


def _vwap_bucket_indices(n: int, slices: int) -> list[int]:
    """The reference's pick (impact_vwap.py:271-279): round(i*slices/n)
    clipped, TRUNCATED to the first ``slices`` entries, tail-padded."""
    idx = [min(max(_np_round_half_even(i * slices / n), 0), n - 1) for i in range(n)]
    while len(idx) < slices:
        idx.append(n - 1)
    return idx[:slices]


def simulate_vwap_real(
    df: DataFrame, cfg: VwapConfig, n_rows: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Proxy-weighted child sizes + sequential carry recurrence
    (impact_vwap.py:247-377). Returns (summary_df, per_slice_df).

    The carry makes slice k depend nonlinearly on slice k-1, so after the
    DISTRIBUTED part (ladder extraction + proxy computation per picked
    row), the <= ``slices`` reduced rows are collected and the recurrence
    runs driver-side — bounded by config, correct at any data scale.
    """
    assert cfg.side in ("buy", "sell")
    # count + single-series contract in one aggregate job (round 13);
    # zero jobs when the caller hints the count from source metadata
    n = _count_single_series(df, n_rows=n_rows)
    if n == 0:
        raise ValueError("Empty dataframe")
    idx = _vwap_bucket_indices(n, cfg.slices)

    # Project to the 4 needed columns BEFORE the global row_number so the
    # single-partition sort moves (ts, iso, mid, ladder) per row, not the
    # full 8+4K-column book row.
    ladder = valid_levels(ladder_from_wide(_exec_side(cfg.side), cfg.depth_k))
    narrow = df.select(
        *_series_keys(df),
        *(["raw_nonce"] if "raw_nonce" in df.columns else []),
        F.col("ts_ms"),
        F.coalesce(_iso_expr(df), F.lit("")).alias("iso"),
        _mid_col().alias("mid"),
        ladder.alias("ladder"),
    )
    reduced = (
        _numbered(narrow)
        .filter(F.col("__pos").isin(sorted(set(idx))))
        .collect()
    )
    by_pos = {r["__pos"]: r for r in reduced}

    def proxy(r) -> float:
        lv = r["ladder"]
        if not lv:
            return 0.0
        if cfg.proxy == "l1_sum":
            return lv[0]["size"]
        return float(sum(e["size"] for e in lv))

    proxies = [max(0.0, proxy(by_pos[i])) for i in idx]
    total_proxy = sum(proxies)
    if total_proxy <= 0:
        sizes = [cfg.target_qty / cfg.slices] * cfg.slices
    else:
        sizes = [cfg.target_qty * (w / total_proxy) for w in proxies]
    if cfg.min_slice_qty is not None:
        sizes = [max(s, float(cfg.min_slice_qty)) for s in sizes]
        scale = cfg.target_qty / sum(sizes)
        sizes = [s * scale for s in sizes]
    err = cfg.target_qty - sum(sizes)
    if abs(err) > 1e-9:
        j = max(range(len(sizes)), key=lambda k: sizes[k])
        sizes[j] += err

    mid_open = by_pos[idx[0]]["mid"]
    mid_close = by_pos[idx[-1]]["mid"]

    carry = 0.0
    filled_total = notional_total = fee_total = 0.0
    per_rows: list[dict] = []
    for s, (pos, target) in enumerate(zip(idx, sizes), start=1):
        r = by_pos[pos]
        desired = float(target) + carry
        remain, cost, touched = desired, 0.0, 0
        if desired > 0:
            for e in r["ladder"]:
                if remain <= 0:
                    break
                take = min(remain, e["size"])
                cost += take * e["price"]
                remain -= take
                touched += 1 if take > 0 else 0
        filled = desired - remain if desired > 0 else 0.0
        vwap = cost / filled if filled > 0 else float("nan")
        notional = filled * vwap if math.isfinite(vwap) else 0.0
        fee = abs(notional) * (cfg.fee_bps / 1e4)
        notional_with_fee = notional + fee if cfg.side == "buy" else notional - fee
        filled_total += filled
        notional_total += notional_with_fee
        fee_total += fee
        mid = r["mid"]
        slip = None
        if mid and filled > 0:
            signed = (vwap - mid) / mid * 1e4
            slip = float(signed if cfg.side == "buy" else -signed)
        carry = max(0.0, desired - filled)
        per_rows.append(
            dict(
                slice=s,
                ts_ms=int(r["ts_ms"] or 0),
                iso=str(r["iso"]),
                slice_target_qty=float(target),
                desired_qty_incl_carry=desired,
                filled_qty=filled,
                slice_vwap=vwap,
                levels_touched=touched,
                mid=mid,
                slippage_bps_vs_mid=slip,
                carry_to_next=carry,
            )
        )

    vwap_all = notional_total / filled_total if filled_total > 0 else float("nan")

    def slip_vs(ref):
        if ref is None or not math.isfinite(vwap_all):
            return None
        signed = (vwap_all - ref) / ref * 1e4
        return float(signed if cfg.side == "buy" else -signed)

    spark = df.sparkSession
    summary = spark.createDataFrame(
        [
            Row(
                side=cfg.side,
                target_qty=float(cfg.target_qty),
                filled_qty=float(filled_total),
                vwap=float(vwap_all) if math.isfinite(vwap_all) else None,
                notional=float(notional_total),
                fees_paid=float(fee_total),
                slippage_bps_vs_mid_open=slip_vs(mid_open),
                slippage_bps_vs_mid_close=slip_vs(mid_close),
                slices=cfg.slices,
                depth_k=cfg.depth_k,
                proxy=cfg.proxy,
            )
        ]
    )
    per_slice = spark.createDataFrame(
        [Row(**r) for r in per_rows],
        "slice int, ts_ms long, iso string, slice_target_qty double, "
        "desired_qty_incl_carry double, filled_qty double, slice_vwap double, "
        "levels_touched int, mid double, slippage_bps_vs_mid double, "
        "carry_to_next double",
    )
    return summary, per_slice
