"""Series/window operators (SURVEY §2.5 W1-W13) — the heart of the toolkit.

Every operator runs over the canonical per-instrument window
``partitionBy(exchange_id, symbol).orderBy(ts_ms)``; on a cluster that is
ONE shuffle (hash-partition by instrument, in-partition sort) shared by all
of them — Catalyst reuses the exchange for every window in the same select.

Scale note (SURVEY §4.1): a single instrument's multi-year history in one
partition is the known risk at 100 TB — a keyed running window is
sequential per key. The unbounded cumsums now have the mitigation
implemented: ``add_cumulative_segmented`` (two-phase parallel scan —
per-range-segment local prefix sums, then broadcast segment offsets from
a config-sized aggregate), hash-pinned equal to the one-window form by
the ``book_cumsum_segmented`` gate. All lag/rolling ops here use bounded
frames, which Spark evaluates in a streaming fashion within the sorted
partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from market_microstructure_toolkit_spark import schema as S


def book_window(
    keys: tuple[str, ...] = S.PARTITION_KEYS, order_col: str | list = "ts_ms"
) -> WindowSpec:
    """The canonical series window: per instrument, ordered by time."""
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    return Window.partitionBy(*keys).orderBy(*order)


def over_sql(keys: tuple[str, ...], order: str | list = (), frame: str = "") -> str:
    """SQL text of the window partitioned by ``keys`` and ordered by
    ``order``, plus an optional frame clause, for window expressions
    built as SQL text, as in ``lag(x) OVER (<this text>)``. Every window
    written as SQL text in the package goes through here, so the window
    audit (``tools/window_audit.py``) finds it. Names are backquoted; an
    order entry may end in `` DESC``.

    A SQL expression is parsed in one JVM call, while the same Column
    tree costs a py4j round trip per node and per-call call-site
    capture."""

    def name(c: str) -> str:
        col, _, direction = c.partition(" ")
        return f"`{col}` {direction}".rstrip()

    order = [order] if isinstance(order, str) else list(order)
    text = "PARTITION BY " + ", ".join(map(name, keys))
    if order:
        text += " ORDER BY " + ", ".join(map(name, order))
    return f"{text} {frame}".rstrip()


# ---------------------------------------------------------------------------
# W1/W2/W3 — the three order-flow-imbalance definitions
# ---------------------------------------------------------------------------

def ofi_l1_expr(w: WindowSpec, mode: str = "strict") -> Column:
    """L1 order-flow imbalance vs previous row over the series window
    ``w``; three reference variants (SURVEY §7.3.1), of which this builds
    ``strict`` and ``kyle``. The ``lobster`` one is SQL text,
    :func:`ofi_lobster_sql`:

    - ``strict`` (metrics.py:293-333, "Cont-style"): strict inequalities on
      ``bid1_price``/``ask1_price``; bid: +delta(size) if up, -prev size if
      down, 0 if equal; ask: +delta(size) if DOWN, -prev size if UP, 0 if
      equal; OFI = bid_part + ask_part. NULL if ANY of the 8 inputs
      (prev/cur L1 price & size, both sides) is missing; first row NULL
      (reference emits ``""``).
    - ``kyle`` (event_metrics.py:84-105, ties-included): indicators
      ``1{b_t >= b_{t-1}}*q_t - 1{b_t <= b_{t-1}}*q_{t-1}`` on
      ``best_bid``/``best_ask`` (so equal prices contribute q_t - q_{t-1});
      ask mirrored; a missing prev price makes BOTH indicators true; sizes
      null-filled to 0; OFI = dB - dA; first row of each series forced 0.0.
    - ``lobster`` (plot_cli.py:145-162): strict inequalities on
      ``best_bid``/``best_ask``, ``up_bid*q^b_t - dn_bid*q^b_{t-1} -
      up_ask*q^a_{t-1} + dn_ask*q^a_t``; any NULL term nulls the TOTAL,
      which then coalesces to 0 (pandas ``fillna(0)`` on the final series).
    """
    bq, aq = F.col("bid1_size"), F.col("ask1_size")
    pbq, paq = F.lag(bq).over(w), F.lag(aq).over(w)

    if mode == "strict":
        bb, ba = F.col("bid1_price"), F.col("ask1_price")
        pbb, pba = F.lag(bb).over(w), F.lag(ba).over(w)
        bid_part = (
            F.when(bb > pbb, bq - pbq)
            .when(bb < pbb, -pbq)
            .otherwise(F.lit(0.0))
        )
        ask_part = (
            F.when(ba < pba, aq - paq)
            .when(ba > pba, -paq)
            .otherwise(F.lit(0.0))
        )
        any_null = (
            bb.isNull() | ba.isNull() | bq.isNull() | aq.isNull()
            | pbb.isNull() | pba.isNull() | pbq.isNull() | paq.isNull()
        )
        return F.when(~any_null, bid_part + ask_part)

    if mode == "kyle":
        bb, ba = F.col("best_bid"), F.col("best_ask")
        pbb, pba = F.lag(bb).over(w), F.lag(ba).over(w)
        bq0, aq0 = F.coalesce(bq, F.lit(0.0)), F.coalesce(aq, F.lit(0.0))
        pbq0, paq0 = F.coalesce(pbq, F.lit(0.0)), F.coalesce(paq, F.lit(0.0))

        # pandas: NaN comparisons are False; a missing prev price makes
        # both directional indicators true (event_metrics.py:97-103).
        bid_up = F.when(F.coalesce(bb >= pbb, F.lit(False)) | pbb.isNull(), 1.0).otherwise(0.0)
        bid_dn = F.when(F.coalesce(bb <= pbb, F.lit(False)) | pbb.isNull(), 1.0).otherwise(0.0)
        ask_dn = F.when(F.coalesce(ba <= pba, F.lit(False)) | pba.isNull(), 1.0).otherwise(0.0)
        ask_up = F.when(F.coalesce(ba >= pba, F.lit(False)) | pba.isNull(), 1.0).otherwise(0.0)
        d_bid = bid_up * bq0 - bid_dn * pbq0
        d_ask = ask_dn * aq0 - ask_up * paq0
        first = F.row_number().over(w) == 1
        return F.when(first, F.lit(0.0)).otherwise(d_bid - d_ask)

    raise ValueError(f"unknown OFI mode: {mode!r}")


def ofi_lobster_sql(over: str) -> str:
    """The ``lobster`` OFI of :func:`ofi_l1_expr` as one SQL expression,
    its lags taken over the window whose SQL text (:func:`over_sql`) is
    ``over``."""

    def prev(c: str) -> str:
        return f"lag({c}) OVER ({over})"

    def ind01(cond: str) -> str:
        return f"CASE WHEN coalesce({cond}, false) THEN 1.0D ELSE 0.0D END"

    bb, ba = prev("best_bid"), prev("best_ask")
    total = (
        f"{ind01('best_bid > ' + bb)} * bid1_size"
        f" - {ind01('best_bid < ' + bb)} * {prev('bid1_size')}"
        f" - {ind01('best_ask > ' + ba)} * {prev('ask1_size')}"
        f" + {ind01('best_ask < ' + ba)} * ask1_size"
    )
    return f"coalesce({total}, 0.0D)"


def add_ofi_l1(
    df: DataFrame,
    mode: str = "strict",
    out_col: str = "ofi_l1",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    if mode == "lobster":
        return df.withColumn(out_col, F.expr(ofi_lobster_sql(over_sql(keys, order_col))))
    return df.withColumn(out_col, ofi_l1_expr(book_window(keys, order_col), mode))


# ---------------------------------------------------------------------------
# W4/W5/W6 — returns & realized variance
# ---------------------------------------------------------------------------

def add_log_return(
    df: DataFrame,
    price_col: str = "mid",
    out_col: str = "ret",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """``ln(p_t) - ln(p_{t-1})`` (np.log(s).diff() — realized_var
    metrics.py:190-191, event_metrics.py:109); NULL on first row or
    non-positive/missing price."""
    w = book_window(keys, order_col)
    p = F.col(price_col)
    lp = F.when(p > 0, F.log(p))
    return df.withColumn(out_col, lp - F.lag(lp).over(w))


def add_pct_return(
    df: DataFrame,
    price_col: str = "mid",
    out_col: str = "ret",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """Simple return ``p_t / p_{t-1} - 1`` (pandas ``pct_change``, the
    ``use_log=False`` branch of realized_var, metrics.py:189-192)."""
    w = book_window(keys, order_col)
    p = F.col(price_col)
    return df.withColumn(out_col, p / F.lag(p).over(w) - F.lit(1.0))


def add_rolling_rv(
    df: DataFrame,
    ret_col: str = "ret",
    window: int = 20,
    out_col: str = "rv",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """Rolling realized variance, pandas semantics (W5, metrics.py:172-193):
    ``sum(r^2)`` over the last ``window`` rows, NULL until the window holds
    ``window`` non-null returns (``min_periods=window``)."""
    w = book_window(keys, order_col).rowsBetween(-(window - 1), 0)
    r = F.col(ret_col)
    return df.withColumn(
        out_col,
        F.when(F.count(r).over(w) == window, F.sum(r * r).over(w)),
    )


def add_rolling_rv_reset(
    df: DataFrame,
    price_col: str = "mid",
    window: int = 20,
    out_col: str = "rv",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """Reset-on-gap realized variance (W6, metrics.py:196-232): like W5 but
    any missing/invalid price CLEARS the accumulator — RV stays NULL until
    ``window`` consecutive valid returns accumulate again.

    Two stacked windows, no UDF (SURVEY §7.2): a running count of nulls
    assigns each row a gap-group id; the rolling sum/count then runs inside
    ``partitionBy(keys + gap_group)`` so a window frame can never span a
    gap. Within a gap-free run the count gate reduces to W5.
    """
    w = book_window(keys, order_col)
    p = F.col(price_col)
    pp = F.lag(p).over(w)
    # The reference's reset variant computes log(p1/p0) — ratio THEN log
    # (metrics.py:212-214), unlike W5's log-diff; kept bit-faithful.
    ret = F.when((p > 0) & (pp > 0), F.log(p / pp))
    df2 = df.withColumn("__ret", ret).withColumn(
        # A row with a NULL return starts a new gap group (the reference
        # clears its deque on any None price/return, metrics.py:221-225).
        "__gap_grp",
        F.sum(F.when(F.col("__ret").isNull(), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wg = Window.partitionBy(*keys, "__gap_grp").orderBy(order_col).rowsBetween(
        -(window - 1), 0
    )
    r = F.col("__ret")
    out = df2.withColumn(
        out_col, F.when(F.count(r).over(wg) == window, F.sum(r * r).over(wg))
    )
    return out.drop("__ret", "__gap_grp")


# ---------------------------------------------------------------------------
# W7/W8/W9 — cumulative sums & depth-K OFIs
# ---------------------------------------------------------------------------

def add_cumulative(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """Running total from the start of each instrument's series (W7,
    plot_cli.py:162/175/183). NULL inputs contribute nothing."""
    w = book_window(keys, order_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col or f"{col}_cum", F.sum(F.col(col)).over(w))


def add_depth_ofi(
    df: DataFrame,
    depth: int,
    notional: bool = False,
    out_col: str | None = None,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """Depth-K OFI (W8/W9, plot_cli.py:168-183): lag-diff of the per-side
    top-K size (or price*size notional) sums, bid minus ask; per-side diff
    null-fills to 0 (pandas ``.diff().fillna(0)``), so the first row is 0.

    Null handling mirrors the reference's asymmetry: the SIZE sums skip
    NULL levels (pandas skipna sum, plot_cli.py:72-80) while the NOTIONAL
    sums propagate NULL (plain ``+`` accumulation, plot_cli.py:83-95) —
    a NULL level nulls that row's notional sum, and its diffs fall back
    to 0.

    The reference caps K at ``min(depth, 10)`` (plot_cli.py:169) — caller
    passes the capped depth.
    """
    from market_microstructure_toolkit_spark.functions.microstructure import _sum_levels

    if notional:
        # NULL-propagating accumulation, as in _sum_depth_notional.
        def side_sum(side: str) -> Column:
            out = F.col(f"{side}1_price") * F.col(f"{side}1_size")
            for i in range(2, depth + 1):
                out = out + F.col(f"{side}{i}_price") * F.col(f"{side}{i}_size")
            return out

        bid_sum, ask_sum = side_sum("bid"), side_sum("ask")
    else:
        bid_sum = _sum_levels("bid", depth, lambda p, s: s)
        ask_sum = _sum_levels("ask", depth, lambda p, s: s)

    w = book_window(keys, order_col)
    name = out_col or ("depth_ofi_notional" if notional else "depth_ofi")
    d = F.coalesce(bid_sum - F.lag(bid_sum).over(w), F.lit(0.0)) - F.coalesce(
        ask_sum - F.lag(ask_sum).over(w), F.lit(0.0)
    )
    return df.withColumn(name, d)


# ---------------------------------------------------------------------------
# W10/W13 — rolling correlation, tail limit
# ---------------------------------------------------------------------------

def _moment_states(*overs: str) -> list[str]:
    """SQL of the running moments of the null-aligned pair
    ``__rc_x``/``__rc_y`` over each window in ``overs`` (SQL window
    text), as one struct per window: pair count, means, population
    (co)variances and the x and y ranges."""
    aggs = {
        "n": "count(__rc_x)",
        "mx": "avg(__rc_x)",
        "my": "avg(__rc_y)",
        "vx": "var_pop(__rc_x)",
        "vy": "var_pop(__rc_y)",
        "cxy": "covar_pop(__rc_x, __rc_y)",
        "x_lo": "min(__rc_x)",
        "x_hi": "max(__rc_x)",
        "y_lo": "min(__rc_y)",
        "y_hi": "max(__rc_y)",
    }
    return [
        "named_struct("
        + ", ".join(f"'{name}', {agg} OVER ({over})" for name, agg in aggs.items())
        + ")"
        for over in overs
    ]


def _merged_corr_sql(a: str, b: str) -> str:
    """SQL for the correlation of moment states ``a`` and ``b`` merged by
    Chan, Golub & LeVeque's pairwise update; a NULL ``a`` is an empty
    state. One SQL expression, parsed in one JVM call: the same formula
    as a Column tree took ~670 more py4j round trips to build."""

    def z(field: str) -> str:
        return f"coalesce({field}, 0D)"

    na, nb = z(f"{a}.n"), f"{b}.n"
    dx = f"({z(f'{b}.mx')} - {z(f'{a}.mx')})"
    dy = f"({z(f'{b}.my')} - {z(f'{a}.my')})"
    ok = (
        f"least({a}.x_lo, {b}.x_lo) < greatest({a}.x_hi, {b}.x_hi)"
        f" AND least({a}.y_lo, {b}.y_lo) < greatest({a}.y_hi, {b}.y_hi)"
    )
    f = f"(CASE WHEN {ok} THEN {na} * {nb} / ({na} + {nb}) END)"

    def comoment(v: str, d1: str, d2: str) -> str:
        return f"({z(f'{a}.{v}')} * {na} + {z(f'{b}.{v}')} * {nb} + {d1} * {d2} * {f})"

    m2x, m2y = comoment("vx", dx, dx), comoment("vy", dy, dy)
    den = f"(sqrt({m2x}) * sqrt({m2y}))"
    return f"CASE WHEN {den} > 0 THEN {comoment('cxy', dx, dy)} / {den} END"


def add_rolling_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    window: int,
    out_col: str = "roll_corr",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
) -> DataFrame:
    """Rolling Pearson correlation over the last ``window`` rows (W10,
    advanced_plots.py:169), in O(1) work per row.

    A sliding frame re-aggregates all ``window`` rows for every output
    row. Here each frame is instead one merge of two running states
    (the segment-tree idea of Leis et al., VLDB 2015):

    - rows are numbered per key (``pos``) and cut into blocks of
      ``window`` rows;
    - two ``ROWS UNBOUNDED PRECEDING`` windows per block, which Spark
      evaluates incrementally, give each row a prefix state (block start
      to the row) and a suffix state (the row to block end). A state is
      the pair count, means, ``var_pop`` of x and y, ``covar_pop`` and
      the min/max of x and y; times n, the (co)variances are the central
      sums M2x, M2y and the co-moment Cxy;
    - the frame ``[pos-window+1, pos]`` is the suffix state of row
      ``pos-window+1`` (a ``lag``) merged with this row's prefix state by
      Chan, Golub & LeVeque's pairwise update; a row that closes its
      block is its prefix state alone.

    Pairs are null-aligned first, as SQL CORR drops a row when EITHER
    side is null. The result is ``Cxy / sqrt(M2x * M2y)``, NULL unless
    min < max on both x and y (which implies n >= 2). That is exact
    constant-frame detection: the merged means of a constant frame can
    differ by a rounding, so a test on the merged M2 would not catch it,
    while a frame with any two distinct values has M2 > 0. NaN or
    infinite moments fail ``den > 0`` and give NULL as well.

    ANSI safety: under ANSI mode (Spark 4 default) a windowed ``F.corr``
    RAISES DIVIDE_BY_ZERO on any zero-variance frame, and one
    constant-mid run of ``window`` ticks is enough. Here the only
    divisions are ``nA * nB / n``, evaluated only inside the min < max
    guard (n >= 2 there), and ``Cxy / den`` behind ``den > 0``; CASE
    WHEN evaluates its value only when its condition holds.

    Plan: the per-key order sort, then one (keys, block, pos) sort
    descending for the suffix window and one ascending that serves both
    the lag and the prefix window. The (keys, block) windows reuse the
    per-key hash partitioning: no shuffle beyond the per-key one."""
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    x, y = f"`{x_col}`", f"`{y_col}`"
    pair = f"{x} IS NOT NULL AND {y} IS NOT NULL"
    blk = (*keys, "__rc_blk")
    run = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    sfx, pfx = _moment_states(
        over_sql(blk, "__rc_pos DESC", run), over_sql(blk, "__rc_pos", run)
    )
    by_blk_pos = over_sql(keys, ["__rc_blk", "__rc_pos"])
    staged = (
        df.selectExpr(
            "*",
            f"CASE WHEN {pair} THEN CAST({x} AS DOUBLE) END AS __rc_x",
            f"CASE WHEN {pair} THEN CAST({y} AS DOUBLE) END AS __rc_y",
            f"row_number() OVER ({over_sql(keys, order)}) - 1 AS __rc_pos",
        )
        .selectExpr("*", f"__rc_pos - __rc_pos % {window} AS __rc_blk")
        .selectExpr("*", f"{sfx} AS __rc_sfx")
        .selectExpr("*", f"{pfx} AS __rc_pfx")
        .selectExpr(
            "*",
            f"CASE WHEN __rc_pos % {window} != {window - 1}"
            f" THEN lag(__rc_sfx, {window - 1}) OVER ({by_blk_pos}) END AS __rc_a",
        )
    )
    return staged.withColumn(
        out_col, F.expr(_merged_corr_sql("__rc_a", "__rc_pfx"))
    ).drop(
        "__rc_x", "__rc_y", "__rc_pos", "__rc_blk", "__rc_sfx", "__rc_pfx",
        "__rc_a",
    )


def tail_n(
    df: DataFrame,
    n: int,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str = "ts_ms",
) -> DataFrame:
    """Keep the most recent N rows per instrument (W13,
    advanced_plots.py:310-312) — a per-group top-k by recency, which Spark
    executes without a global sort."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def slice_indices(n_rows: int, slices: int) -> list[int]:
    """Evenly-spaced positional sampling (W14, impact.py:196-224): the
    reference's ``np.linspace(0, n-1, slices)`` rounded, dedup'd, sorted.
    Driver-side arithmetic on tiny inputs (slices ~ 10-100)."""
    if n_rows <= 0:
        return []
    if slices <= 1:
        # the reference returns the LAST index for slices <= 1
        # (impact.py:219-220: `return [df.index[-1]]`)
        return [n_rows - 1]
    step = (n_rows - 1) / (slices - 1)
    idx = sorted({int(round(i * step)) for i in range(slices)})
    return [i for i in idx if 0 <= i < n_rows]


def pick_rows_by_index(
    df: DataFrame,
    indices: list[int],
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list | None = None,
) -> DataFrame:
    """Select rows at the given 0-based positions within each instrument's
    time-ordered series (W14/W15) — ``row_number`` + ``isin`` on a tiny
    driver-computed list; no collect of data rows.

    Default ordering is the TOTAL order (ts_ms, raw_nonce) when the nonce
    column exists — ts_ms alone can tie after millisecond truncation,
    which would make positional picks nondeterministic."""
    if order_col is None:
        order_col = (
            ["ts_ms", "raw_nonce"] if "raw_nonce" in df.columns else "ts_ms"
        )
    w = book_window(keys, order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w) - 1)
        .filter(F.col("__rn").isin(indices))
        .withColumnRenamed("__rn", "slice_idx")
    )


def with_narrow_window(df, id_cols, input_cols, builder):
    """Compute window/series columns on a NARROW projection and
    broadcast-graft them back onto the wide frame.

    Why: a window over a single (or few) instrument(s) necessarily
    funnels its partition through one task — and ``WindowExec`` shuffles
    ENTIRE rows, so on a wide book frame (408 columns at depth 100) the
    funnel moves hundreds of columns to sort three. This helper windows
    over just ``id_cols + input_cols`` (the series inputs), then joins
    the new columns back by ``id_cols`` with a broadcast hash join — the
    wide side never shuffles at all. Measured on the reference's real
    depth-100 recording replicated to 60k rows: 23.4s -> 15.6s end-to-end
    (tools/baseline_race.py).

    ``builder`` is narrow_df -> narrow_df with the series columns added
    (compose add_log_return / add_rolling_rv / add_ofi_l1 / ...). Every
    column ``builder`` adds is grafted; ``id_cols`` must uniquely key
    rows (ts_ms + raw_nonce for recordings).

    Scale bound: the broadcast side is (id_cols + new columns) x rows —
    fine up to tens of millions of rows of a few scalars. Past that
    (or when the frame is already narrow, where the extra join only adds
    work) use the direct window: with many instruments the window
    partitions spread naturally and this helper buys nothing.
    """
    narrow = df.select(*id_cols, *input_cols)
    out = builder(narrow)
    new_cols = [c for c in out.columns if c not in narrow.columns]
    series = out.select(*id_cols, *new_cols)
    return df.join(F.broadcast(series), list(id_cols))


#: Per-key rowcount above which the series operators dispatch to the
#: segmented scale path instead of the plain per-key window. Below it,
#: one key's history fits comfortably in one task and the segmented
#: machinery's broadcast/rank bookkeeping would only add latency; above
#: it, the plain window serializes the key through a single core (and a
#: multi-year single-instrument tape eventually OOMs the sort).
SEG_THRESHOLD_ROWS = 1_000_000


def use_segmented(rows_per_key: int | None, df: DataFrame = None,
                  keys: tuple[str, ...] = S.PARTITION_KEYS) -> bool:
    """Size dispatch for plain-vs-segmented window paths. Callers pass
    ``rows_per_key`` from metadata when they have it (parquet footer
    rowcount / key cardinality — free); with ``None`` and a ``df``, the
    max per-key count is measured with one scalar-bounded aggregate
    job (an extra input pass — prefer the hint on hot paths)."""
    if rows_per_key is None:
        if df is None:
            return False
        row = (
            df.groupBy(*keys)
            .count()
            .agg(F.max("count").alias("m"))
            .first()
        )
        rows_per_key = row["m"] or 0
    return rows_per_key > SEG_THRESHOLD_ROWS


def _nullsafe_broadcast_join(left: DataFrame, right: DataFrame, cols: list) -> DataFrame:
    """Inner broadcast join that matches NULL keys the way a window
    ``partitionBy`` does (NULL forms its own group) — a bare equi-join
    would silently DROP NULL-key rows, making the segmented paths
    diverge from their plain-window twins on degenerate input."""
    ren = {c: f"__r_{c}" for c in cols}
    r = right.select(
        *[F.col(c).alias(ren[c]) for c in cols],
        *[F.col(c) for c in right.columns if c not in cols],
    )
    cond = None
    for c in cols:
        e = F.col(c).eqNullSafe(F.col(ren[c]))
        cond = e if cond is None else (cond & e)
    return left.join(F.broadcast(r), cond).drop(*ren.values())


def _segment_expr(seg_col: str, n_segments: int) -> Column:
    """Range-segment id for the order value, NULL-order-safe: a NULL
    order value maps to segment 0, because the plain window's default
    ascending sort puts NULLs FIRST — and within segment 0 the same
    nulls-first sort reproduces the single-window global order exactly.
    (Without the guard, floor(NULL/span) is NULL and ``least`` skips
    NULLs, silently parking NULL-ts rows in the LAST segment.)"""
    span = (
        (F.col("__hi") - F.col("__lo")) / F.lit(n_segments) + F.lit(1)
    ).cast("long")
    return F.when(F.col(seg_col).isNull(), F.lit(0).cast("long")).otherwise(
        F.least(
            F.floor((F.col(seg_col) - F.col("__lo")) / span).cast("long"),
            F.lit(n_segments - 1).cast("long"),
        )
    )


def _chunk_window(keys: tuple[str, ...]) -> tuple[tuple[str, ...], str]:
    """Partition keys and order of the chunk-local window that
    :func:`rolling_segmented` runs its stages over."""
    return (*keys, "__chunk"), "__pos"


def chunk_over_sql(keys: tuple[str, ...] = S.PARTITION_KEYS) -> str:
    """SQL text of the chunk-local window :func:`rolling_segmented` hands
    its ``agg_builder``, for stage expressions built as SQL text."""
    return over_sql(*_chunk_window(keys))


def rolling_segmented(
    df: DataFrame,
    agg_builder,
    window: int,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    n_chunks: int = 64,
    n_segments: int = 256,
    lookahead: int = 0,
) -> DataFrame:
    """Bounded-lookback window pipelines via chunk + (W-1)-row halo —
    the scale path for ``rowsBetween(-(window-1), 0)`` frames and
    ``lag`` chains, which otherwise serialize ONE instrument's whole
    history through one core (SURVEY §4.1; the same risk
    ``add_cumulative_segmented`` closes for unbounded sums, but a
    bounded lookback needs the previous W-1 ROWS of context, which
    value-range segments can't guarantee).

    Three phases, all parallel per (key, segment):

    1. SEGMENTED RANK — global per-key position without a per-key
       window: range-segment the order domain (``n_segments`` value
       buckets; NULL order values map to segment 0 = the plain
       window's nulls-first position), per-segment ``row_number``
       (parallel), then add each segment's exclusive cumulative count
       from a config-sized per-segment aggregate (``n_segments`` rows
       per key, broadcast, NULL-key-safe joins).
    2. CHUNK + HALO — row-count chunks of C =
       max(window, ceil(n / n_chunks)) rows; the last W-1 rows of each
       chunk are DUPLICATED into the next chunk as halo rows, so every
       original row sees its full W-1 lookback inside its own chunk.
       C >= window guarantees one chunk of halo suffices.
    3. LOCAL STAGES — the caller's window expressions run over the
       (keys, chunk)-partitioned window ordered by global position;
       halo rows feed frames/lags but their own outputs are dropped.
       Frame rows and their order are IDENTICAL to the single-window
       form, so even floating-point accumulation matches bit-for-bit
       (pinned by the ``book_rv_segmented`` gate).

    ``agg_builder(w) -> dict[str, Column] | list[dict]``: ``w`` is the
    chunk-local base WindowSpec (partition + order, NO frame — apply
    ``w.rowsBetween(...)`` for frame aggregates, or use ``F.lag(c, k)
    .over(w)`` directly; :func:`chunk_over_sql` is its SQL text). A LIST
    of dicts runs as chained stages: each
    stage's columns are materialized before the next stage's window
    expressions may reference them (window-over-window, e.g. lag-based
    returns feeding a rolling RV). ``window`` must then cover the TOTAL
    lookback: 1 + sum over stages of (per-stage lookback rows) — e.g.
    a lag-1 stage feeding a 20-row frame needs ``window=21``. Outputs
    of stage i are only valid from halo row (cumulative lookback of
    stages <= i) onward, which the halo sizing guarantees for every
    surviving row's frame.

    ``lookahead > 0`` additionally duplicates each chunk's FIRST
    ``lookahead`` rows into the PREVIOUS chunk (a forward halo), so
    ``F.lead(c, k).over(w)`` for k <= lookahead is exact for every
    surviving row — the scale path for bounded-lookahead operators
    (realized spread's mid H trades ahead). Rows within ``lookahead``
    of the END of a key's series see NULL leads in both the plain and
    the segmented form (no halo exists past the last row).
    """
    pos = add_position_segmented(
        df, keys, order_col, pos_col="__pos", n_col="__rows",
        n_segments=n_segments,
    )
    chunk_sz = F.greatest(
        F.lit(window).cast("long"),
        F.lit(lookahead).cast("long"),
        F.ceil(F.col("__rows") / F.lit(n_chunks)).cast("long"),
    )
    chunk = (F.col("__pos") / chunk_sz).cast("long")
    last_chunk = ((F.col("__rows") - 1) / chunk_sz).cast("long")
    # One map-side EXPLODE emits each row's (__chunk, __halo) copies:
    # a validity-flagged struct array, filtered then exploded, so the
    # segmented-rank pipeline above runs exactly once (a union of base
    # and halo branches would re-evaluate it per branch). The
    # downstream chunk windows re-partition and order by __pos, so the
    # order of the copies is irrelevant.
    tail_cond = (
        (F.col("__pos") % chunk_sz >= chunk_sz - F.lit(window - 1))
        & (chunk < last_chunk)
    )
    copies = [
        F.struct(
            chunk.alias("c"), F.lit(0).alias("h"), F.lit(True).alias("k")
        ),
        F.struct(
            (chunk + 1).alias("c"), F.lit(1).alias("h"), tail_cond.alias("k")
        ),
    ]
    if lookahead > 0:
        head_cond = (F.col("__pos") % chunk_sz < F.lit(lookahead)) & (
            chunk > 0
        )
        copies.append(
            F.struct(
                (chunk - 1).alias("c"),
                F.lit(1).alias("h"),
                head_cond.alias("k"),
            )
        )
    u = (
        pos.withColumn(
            "__c",
            F.explode(F.filter(F.array(*copies), lambda s: s["k"])),
        )
        .withColumn("__chunk", F.col("__c.c"))
        .withColumn("__halo", F.col("__c.h"))
        .drop("__c", "__rows")
    )
    chunk_keys, chunk_order = _chunk_window(keys)
    w_base = Window.partitionBy(*chunk_keys).orderBy(chunk_order)
    stages = agg_builder(w_base)
    if isinstance(stages, dict):
        stages = [stages]
    out = u
    for stage in stages:
        for name, expr in stage.items():
            out = out.withColumn(name, expr)
    return out.filter(F.col("__halo") == 0).drop(
        "__pos", "__chunk", "__halo"
    )


def add_position_segmented(
    df: DataFrame,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    pos_col: str = "__pos",
    n_col: str | None = None,
    n_segments: int = 256,
) -> DataFrame:
    """Global per-key 0-based position (and optionally the per-key row
    count) WITHOUT a per-key window — the segmented-rank phase that
    :func:`rolling_segmented` runs first: range-segment the order
    domain, per-segment ``row_number`` (parallel per key), then add each
    segment's exclusive cumulative count from a config-sized
    per-segment aggregate. Identical to
    ``row_number().over(partitionBy(keys).orderBy(order)) - 1`` (and
    ``count().over(partitionBy(keys))``) for any total order — the
    scale path for positional sampling (W14/W15 slice picks)."""
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    seg_col = order[0]
    bounds = df.groupBy(*keys).agg(
        F.min(seg_col).alias("__lo"),
        F.max(seg_col).alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    )
    keyed = _nullsafe_broadcast_join(df, bounds, list(keys)).withColumn(
        "__seg", _segment_expr(seg_col, n_segments)
    )
    w_seg = Window.partitionBy(*keys, "__seg").orderBy(*order)
    ranked = keyed.withColumn("__rn", F.row_number().over(w_seg))
    seg_counts = keyed.groupBy(*keys, "__seg").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("__seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg_offsets = seg_counts.select(
        *keys,
        "__seg",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__segoff"),
    )
    pos = _nullsafe_broadcast_join(
        ranked, seg_offsets, [*keys, "__seg"]
    ).withColumn(pos_col, F.col("__rn") + F.col("__segoff") - 1)
    if n_col:
        pos = pos.withColumn(n_col, F.col("__n"))
    return pos.drop("__seg", "__rn", "__segoff", "__lo", "__hi", "__n")


def series_stages(
    df: DataFrame,
    stages_builder,
    window: int,
    *,
    segmented: bool,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    lookahead: int = 0,
) -> DataFrame:
    """The ONE dispatch point for bounded-lookback series gates:
    ``stages_builder(w) -> dict | list[dict]`` of window
    expressions over the base (partition+order) spec ``w``, exactly as
    :func:`rolling_segmented` takes them. ``segmented=False`` applies the
    same staged expressions over the plain per-key window (one task per
    key — fine below the dispatch threshold); ``segmented=True`` routes
    through the chunk+halo pipeline. Both paths evaluate identical
    expressions over identical frame rows in identical order, so results
    are value-identical (bit-exact) — pinned per-gate by
    tests/test_dispatch_parity.py.

    ``window`` must cover the TOTAL lookback across chained stages
    (1 + sum of per-stage lookback rows); ``lookahead`` the total
    forward offset of any ``F.lead`` used.
    """
    if segmented:
        return rolling_segmented(
            df,
            stages_builder,
            window,
            keys=keys,
            order_col=order_col,
            lookahead=lookahead,
        )
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*keys).orderBy(*order)
    stages = stages_builder(w)
    if isinstance(stages, dict):
        stages = [stages]
    out = df
    for stage in stages:
        for name, expr in stage.items():
            out = out.withColumn(name, expr)
    return out


def add_rolling_rv_segmented(
    df: DataFrame,
    ret_col: str = "ret",
    window: int = 20,
    out_col: str = "rv",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    n_chunks: int = 64,
) -> DataFrame:
    """W5 rolling RV on the chunk+halo path — value-identical (bit-exact)
    to :func:`add_rolling_rv`, but one instrument's history fans out over
    ``n_chunks`` cores instead of serializing through one."""

    def build(w):
        wf = w.rowsBetween(-(window - 1), 0)
        r = F.col(ret_col)
        return {
            out_col: F.when(
                F.count(r).over(wf) == window, F.sum(r * r).over(wf)
            )
        }

    return rolling_segmented(
        df, build, window, keys=keys, order_col=order_col, n_chunks=n_chunks
    )


def add_rolling_corr_segmented(
    df: DataFrame,
    x_col: str,
    y_col: str,
    window: int,
    out_col: str = "roll_corr",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    n_chunks: int = 64,
) -> DataFrame:
    """W10 rolling corr on the chunk+halo path, parallel per key: the
    guarded pair-aligned moments over a sliding frame per chunk. Same
    NULL pattern as :func:`add_rolling_corr`, values equal up to
    rounding."""

    def build(w):
        wf = w.rowsBetween(-(window - 1), 0)
        pair = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        x = F.when(pair, F.col(x_col))
        y = F.when(pair, F.col(y_col))
        cov = F.covar_samp(x, y).over(wf)
        sx = F.stddev_samp(x).over(wf)
        sy = F.stddev_samp(y).over(wf)
        return {out_col: F.when((sx > 0) & (sy > 0), cov / (sx * sy))}

    return rolling_segmented(
        df, build, window, keys=keys, order_col=order_col, n_chunks=n_chunks
    )


def add_cumulative_segmented(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    n_segments: int = 64,
) -> DataFrame:
    """Running total via segmented prefix-sum — the scale path for the
    case ``add_cumulative`` serializes on: ONE instrument with a very
    long history puts that key's whole series in one task (a keyed
    running window is sequential per key; the 100x dollar-bars probe
    measured exactly this — 2.5M rows per instrument on one core each).

    Classic two-phase parallel scan, expressed relationally: the order
    domain splits into ``n_segments`` range segments per key (by
    order-column value — no global rank needed, segmentation must not
    itself require the scan it enables); phase 1 computes each
    segment's LOCAL running sum with a (keys, segment)-partitioned
    window — ``n_segments``-way parallel per key; phase 2 computes each
    segment's offset as the exclusive running sum of per-segment totals
    over a (keys)-keyed window on the TINY per-segment aggregate
    (``n_segments`` rows per key — config-sized, never data-sized);
    final value = local cumsum + segment offset. Identical to the
    one-window form whenever the summand is order-free exact (exact
    binary sizes, decimal money, quantized notionals — the repo's
    cumulative inputs); pinned hash-exact against the plain
    ``SUM() OVER`` oracle by ``book_cumsum_segmented``.

    Ties across a segment boundary: segmentation is by half-open value
    ranges of ``order_col``, so equal order values land in the same
    segment and the within-segment window must break ties exactly as
    the reference single-window form does (pass the same tie-break
    ordering via ``order_col`` conventions upstream).
    """
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    seg_col = order[0]  # range-segment by the primary order value; ties
    # (equal values, broken by the remaining order cols) land in ONE
    # segment, so the within-segment sort reproduces the single-window
    # tie order exactly; NULL order values map to segment 0 (nulls-first)
    bounds = df.groupBy(*keys).agg(
        F.min(seg_col).alias("__lo"), F.max(seg_col).alias("__hi")
    )
    keyed = _nullsafe_broadcast_join(df, bounds, list(keys)).withColumn(
        "__seg", _segment_expr(seg_col, n_segments)
    )
    w_local = (
        Window.partitionBy(*keys, "__seg")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = keyed.withColumn(
        "__local_cum", F.sum(F.col(col)).over(w_local)
    )
    totals = keyed.groupBy(*keys, "__seg").agg(
        F.sum(F.col(col)).alias("__seg_total"),
        F.count(F.col(col)).alias("__seg_cnt"),
    )
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("__seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *keys,
        "__seg",
        F.coalesce(F.sum("__seg_total").over(w_off), F.lit(0.0)).alias("__off"),
        F.coalesce(F.sum("__seg_cnt").over(w_off), F.lit(0)).alias("__pcnt"),
    )
    # SUM() OVER semantics through nulls: the running total is NULL only
    # while NO non-null value has been seen yet — once any prior segment
    # (or the in-segment prefix) holds a value, a null row still carries
    # the running total forward
    cum = F.when(
        F.col("__local_cum").isNull() & (F.col("__pcnt") == 0), F.lit(None)
    ).otherwise(F.coalesce(F.col("__local_cum"), F.lit(0.0)) + F.col("__off"))
    out = (
        _nullsafe_broadcast_join(local, offsets, [*keys, "__seg"])
        .withColumn(out_col or f"{col}_cum", cum)
        .drop("__lo", "__hi", "__seg", "__local_cum", "__off", "__pcnt")
    )
    return out


def add_rolling_rv_reset_segmented(
    df: DataFrame,
    price_col: str = "mid",
    window: int = 20,
    out_col: str = "rv",
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    n_chunks: int = 64,
) -> DataFrame:
    """W6 reset-on-gap RV on the chunk+halo path. The plain form stacks
    an UNBOUNDED gap-group window under the bounded frame — un-chunkable
    as written — but the gap grouping is mathematically redundant: a
    frame of the last ``window`` ROWS that contains ``window`` non-null
    returns cannot span a gap (any gap row inside the frame is itself a
    null return), and when the current gap run is shorter than
    ``window`` the global frame necessarily includes the gap row,
    failing the same count gate. So the reset variant IS the W5 gated
    form over the raw (ungrouped) frame — two chained stages (ratio-log
    return, then gated frame), total lookback 1 + (window-1) + 1.
    Value-identical (bit-exact for quantized/exact-binary returns, same
    frame row set and order otherwise) to :func:`add_rolling_rv_reset`;
    pinned by tests/test_scale_paths dispatch-parity cases."""

    def build(w):
        p = F.col(price_col)
        pp = F.lag(p).over(w)
        ret = F.when((p > 0) & (pp > 0), F.log(p / pp))
        wf = w.rowsBetween(-(window - 1), 0)
        r = F.col("__rvr_ret")
        return [
            {"__rvr_ret": ret},
            {
                out_col: F.when(
                    F.count(r).over(wf) == window, F.sum(r * r).over(wf)
                )
            },
        ]

    return rolling_segmented(
        df, build, window + 1, keys=keys, order_col=order_col,
        n_chunks=n_chunks,
    ).drop("__rvr_ret")


def add_running_last_segmented(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
    keys: tuple[str, ...] = S.PARTITION_KEYS,
    order_col: str | list = "ts_ms",
    n_segments: int = 64,
) -> DataFrame:
    """Running ``last(col, ignorenulls=True)`` (forward-fill) via the
    same two-phase segmented scan as :func:`add_cumulative_segmented` —
    the scale path for unbounded carry windows (Lee-Ready tick-sign
    carry across zero-ticks). Phase 1: per-(key, range-segment) local
    running last — parallel per key. Phase 2: each segment's carry-in is
    the latest non-null among ALL prior segments, computed with one tiny
    per-segment window (``max_by`` over the in-segment order makes the
    per-segment "last non-null" deterministic, then ``last ignorenulls``
    over the config-sized segment list). Final: coalesce(local, carry).
    Deterministic and exactly equal to the one-window form — last() is
    selection, not accumulation, so there is no float-association
    caveat at all."""
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    seg_col = order[0]
    out_name = out_col or f"{col}_ffill"
    bounds = df.groupBy(*keys).agg(
        F.min(seg_col).alias("__lo"), F.max(seg_col).alias("__hi")
    )
    keyed = _nullsafe_broadcast_join(df, bounds, list(keys)).withColumn(
        "__seg", _segment_expr(seg_col, n_segments)
    )
    w_local = (
        Window.partitionBy(*keys, "__seg")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = keyed.withColumn(
        "__local_last", F.last(F.col(col), ignorenulls=True).over(w_local)
    )
    seg_last = keyed.groupBy(*keys, "__seg").agg(
        F.max_by(
            F.col(col),
            F.when(F.col(col).isNotNull(), F.struct(*[F.col(c) for c in order])),
        ).alias("__seg_last")
    )
    w_carry = (
        Window.partitionBy(*keys)
        .orderBy("__seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = seg_last.select(
        *keys,
        "__seg",
        F.last("__seg_last", ignorenulls=True).over(w_carry).alias("__carry"),
    )
    out = (
        _nullsafe_broadcast_join(local, carries, [*keys, "__seg"])
        .withColumn(out_name, F.coalesce(F.col("__local_last"), F.col("__carry")))
        .drop("__lo", "__hi", "__seg", "__local_last", "__carry")
    )
    return out
