"""Market-microstructure gate queries (book metrics, OFI, windows,
as-of joins, trades, bars, execution sims) - split from plans/queries.py.
Float-determinism rules: see plans/queries.py module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from market_microstructure_toolkit_spark.functions import arrays as A
from market_microstructure_toolkit_spark.functions import microstructure as M
from market_microstructure_toolkit_spark.functions.decimal_sum import exact_decimal_sum
from market_microstructure_toolkit_spark.operators import row_metrics as RM
from market_microstructure_toolkit_spark.operators import trades as T
from market_microstructure_toolkit_spark.operators import window_metrics as W
from market_microstructure_toolkit_spark.plans.book import BOOK_DEPTH
from market_microstructure_toolkit_spark.plans.book import ORDER_COLS
from market_microstructure_toolkit_spark.plans.book import synthetic_book
from market_microstructure_toolkit_spark.plans.book import synthetic_trades
from market_microstructure_toolkit_spark.plans.book import trades_sql
from market_microstructure_toolkit_spark.sources.events import read_events
from market_microstructure_toolkit_spark.plans.base import (
    IDS,
    KEYS,
    _BOOK_CTE,
    _CLASSIFIED_CTE,
    _OFI_STRICT_SQL,
    _TRADE_SIGNS_SQL,
    _VPIN_SQL,
    _W,
    _scratch,
    book_rows_per_key,
    book_symbol_group_counts,
    book_symbol_rows,
    parquet_ts_range,
    q2k_col,
    q2k_sql,
    register,
)


def _book_symbols(spark: SparkSession, sf_dir: str) -> list[str]:
    """Sorted symbol roster of the synthetic book: the book derives
    symbol = BOOK_SYMBOL_PREFIX || (user_id % 4) and no plant touches
    user_id on the book path, so the roster is exactly the residues
    present in the raw column — read off the shared ``_mod4_hist``
    residue histogram (round 14: memoized per fixture AND
    size-dispatched to a distributed aggregate above the driver-pull
    gate, replacing the round-13 full-column pyarrow unique that both
    re-decoded the column per call and would concatenate it in driver
    memory at scale). The histogram's np.fmod/Spark ``%`` are both
    C-style, so negative ids yield the same 'S-1'-shaped symbols as the
    derivation. Spark fallback on NULL user_ids or read surprise."""
    from market_microstructure_toolkit_spark.plans.base import _mod4_hist
    from market_microstructure_toolkit_spark.plans.book import (
        BOOK_SYMBOL_PREFIX,
    )

    hist = _mod4_hist(sf_dir)
    if hist is not None:
        counts, n_null = hist
        if n_null == 0:
            return sorted(
                f"{BOOK_SYMBOL_PREFIX}{res}"
                for res in range(-3, 4)
                if counts[res + 3]
            )
    book = synthetic_book(spark, sf_dir)
    return sorted(
        r["symbol"] for r in book.select("symbol").distinct().collect()
    )


_ROW_METRICS_SQL = f"""{_BOOK_CTE}
SELECT
  exchange_id, symbol, ts_ms, raw_nonce,
  best_ask - best_bid AS spread,
  (best_bid + best_ask) / 2.0 AS mid,
  CASE WHEN best_bid > 0 AND best_ask > best_bid
            AND (best_bid + best_ask) / 2.0 > 0
       THEN 1e4 * (best_ask - best_bid) / ((best_bid + best_ask) / 2.0)
  END AS relative_spread_bps,
  CASE WHEN bid1_size + ask1_size > 0
       THEN (best_ask * bid1_size + best_bid * ask1_size) / (bid1_size + ask1_size)
  END AS microprice,
  CASE WHEN (best_bid + best_ask) / 2.0 > 0
       THEN 1e4 * (CASE WHEN bid1_size + ask1_size > 0
                        THEN (best_ask * bid1_size + best_bid * ask1_size) / (bid1_size + ask1_size)
                   END - (best_bid + best_ask) / 2.0) / ((best_bid + best_ask) / 2.0)
  END AS microprice_imbalance_bps,
  CASE WHEN COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0) > 0
       THEN COALESCE(bid1_size, 0.0) / (COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0))
  END AS imbalance_l1,
  CASE WHEN ({" + ".join(f"COALESCE(bid{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))})
          + ({" + ".join(f"COALESCE(ask{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))}) > 0
       THEN ({" + ".join(f"COALESCE(bid{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))})
          / (({" + ".join(f"COALESCE(bid{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))})
           + ({" + ".join(f"COALESCE(ask{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))}))
  END AS imbalance_k,
  CASE WHEN ({" + ".join(f"(CASE WHEN bid{i}_price IS NOT NULL AND bid{i}_size IS NOT NULL THEN 1 ELSE 0 END)" for i in range(1, BOOK_DEPTH + 1))}) > 0
       THEN ({" + ".join(f"COALESCE(bid{i}_price * bid{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))})
  END AS notional_bid_k,
  CASE WHEN ({" + ".join(f"(CASE WHEN ask{i}_price IS NOT NULL AND ask{i}_size IS NOT NULL THEN 1 ELSE 0 END)" for i in range(1, BOOK_DEPTH + 1))}) > 0
       THEN ({" + ".join(f"COALESCE(ask{i}_price * ask{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1))})
  END AS notional_ask_k
FROM book
"""


@register("book_row_metrics", _ROW_METRICS_SQL)
def q_book_row_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3/P4/P5/P7/P8/P9 as one shuffle-free projection (SURVEY §2.2)."""
    book = synthetic_book(spark, sf_dir)
    return RM.compute_row_metrics(book, BOOK_DEPTH).select(
        *IDS, *RM.METRIC_COLS
    )


@register("book_ofi_strict", _OFI_STRICT_SQL)
def q_book_ofi_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cont-style strict OFI (W1, metrics.py:293-333)."""
    book = synthetic_book(spark, sf_dir)
    out = W.add_ofi_l1(book, mode="strict", keys=KEYS, order_col=ORDER_COLS)
    return out.select(*IDS, "ofi_l1")


_OFI_KYLE_SQL = f"""{_BOOK_CTE},
lagged AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask,
         COALESCE(bid1_size, 0.0) AS bq0, COALESCE(ask1_size, 0.0) AS aq0,
         LAG(best_bid) OVER ({_W}) AS pbb,
         LAG(best_ask) OVER ({_W}) AS pba,
         COALESCE(LAG(COALESCE(bid1_size, 0.0)) OVER ({_W}), 0.0) AS pbq0,
         COALESCE(LAG(COALESCE(ask1_size, 0.0)) OVER ({_W}), 0.0) AS paq0,
         ROW_NUMBER() OVER ({_W}) AS rn
  FROM book
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  CASE WHEN rn = 1 THEN 0.0
       ELSE ((CASE WHEN COALESCE(best_bid >= pbb, FALSE) OR pbb IS NULL THEN 1.0 ELSE 0.0 END) * bq0
           - (CASE WHEN COALESCE(best_bid <= pbb, FALSE) OR pbb IS NULL THEN 1.0 ELSE 0.0 END) * pbq0)
          - ((CASE WHEN COALESCE(best_ask <= pba, FALSE) OR pba IS NULL THEN 1.0 ELSE 0.0 END) * aq0
           - (CASE WHEN COALESCE(best_ask >= pba, FALSE) OR pba IS NULL THEN 1.0 ELSE 0.0 END) * paq0)
  END AS ofi_l1
FROM lagged
"""


@register("book_ofi_kyle", _OFI_KYLE_SQL)
def q_book_ofi_kyle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle-style ties-included OFI (W2, event_metrics.py:84-105)."""
    book = synthetic_book(spark, sf_dir)
    out = W.add_ofi_l1(book, mode="kyle", keys=KEYS, order_col=ORDER_COLS)
    return out.select(*IDS, "ofi_l1")


_OFI_LOBSTER_SQL = f"""{_BOOK_CTE},
lagged AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask,
         bid1_size, ask1_size,
         LAG(best_bid) OVER ({_W}) AS pbb,
         LAG(best_ask) OVER ({_W}) AS pba,
         LAG(bid1_size) OVER ({_W}) AS pbq,
         LAG(ask1_size) OVER ({_W}) AS paq
  FROM book
),
ofi AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
    COALESCE(
      (CASE WHEN COALESCE(best_bid > pbb, FALSE) THEN 1.0 ELSE 0.0 END) * bid1_size
      - (CASE WHEN COALESCE(best_bid < pbb, FALSE) THEN 1.0 ELSE 0.0 END) * pbq
      - (CASE WHEN COALESCE(best_ask > pba, FALSE) THEN 1.0 ELSE 0.0 END) * paq
      + (CASE WHEN COALESCE(best_ask < pba, FALSE) THEN 1.0 ELSE 0.0 END) * ask1_size,
      0.0) AS ofi_l1
  FROM lagged
)
SELECT exchange_id, symbol, ts_ms, raw_nonce, ofi_l1,
       SUM(ofi_l1) OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ofi_l1_cum
FROM ofi
"""


@register("book_ofi_lobster_cum", _OFI_LOBSTER_SQL)
def q_book_ofi_lobster_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOBSTER-style OFI + running cumulative (W3+W7, plot_cli.py:145-162),
    SIZE-DISPATCHED: below ``W.SEG_THRESHOLD_ROWS`` rows per key, the
    plain lag + unbounded-frame running sum; above it, the
    OFI lag runs on the chunk+halo path (lookback 1 -> window=2) and the
    running total on the segmented prefix-sum
    (``add_cumulative_segmented``). Sizes are exact binary fractions
    (multiples of 0.25) so OFI values — and therefore the cumulative
    sum — are order-insensitive-exact in EITHER association: the
    segmented offset+local form is bit-identical to the sequential
    running sum, no rounding required for the shared oracle.
    """
    book = synthetic_book(spark, sf_dir)
    if not W.use_segmented(book_rows_per_key(sf_dir)):
        out = W.add_ofi_l1(book, mode="lobster", keys=KEYS, order_col=ORDER_COLS)
        out = W.add_cumulative(
            out, "ofi_l1", out_col="ofi_l1_cum", keys=KEYS, order_col=ORDER_COLS
        )
        return out.select(*IDS, "ofi_l1", "ofi_l1_cum")
    out = W.rolling_segmented(
        book,
        lambda w: {"ofi_l1": F.expr(W.ofi_lobster_sql(W.chunk_over_sql(KEYS)))},
        window=2,
        keys=KEYS,
        order_col=ORDER_COLS,
    )
    out = W.add_cumulative_segmented(
        out, "ofi_l1", out_col="ofi_l1_cum", keys=KEYS, order_col=ORDER_COLS
    )
    return out.select(*IDS, "ofi_l1", "ofi_l1_cum")


_RV_SQL = f"""{_BOOK_CTE},
mids AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS mid
  FROM book
),
rets AS (
  SELECT *,
         (mid / LAG(mid) OVER ({_W}) - 1.0) * 1e4 AS ret_bps
  FROM mids
),
quant AS (
  SELECT *, floor(ret_bps * 1024.0 + 0.5) / 1024.0 AS ret_q
  FROM rets
)
SELECT exchange_id, symbol, ts_ms, raw_nonce, mid, ret_bps,
  CASE WHEN COUNT(ret_q) OVER ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) = 20
       THEN SUM(ret_q * ret_q) OVER ({_W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
  END AS rv_20
FROM quant
"""


def _rv_surface(
    spark: SparkSession, sf_dir: str, segmented: bool, n_chunks: int = 8
) -> DataFrame:
    """Shared W4/W5 pipeline behind ``book_returns_rv`` (size-dispatched)
    and ``book_rv_segmented`` (explicit segmented mode): simple returns
    (bps) + 20-row count-gated realized variance.

    Returns are division-based (bit-identical across engines) and
    quantized to multiples of 2^-10 bps before the rolling sum: squares
    and 20-term sums of such binary fractions stay well under 53
    mantissa bits, so the window sum is EXACT in any evaluation order —
    immune to Spark-vs-DuckDB (and plain-vs-segmented) associativity.

    In segmented mode the WHOLE pipeline — the lag-based return too, not
    just the frame aggregate — runs on the chunk+halo path as chained
    stages (total lookback 1 + 19 -> window=21), so no phase is
    single-task per key."""
    book = synthetic_book(spark, sf_dir)
    mids = book.select(
        *IDS, ((F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)).alias("mid")
    )

    def rq_of(c):
        return F.floor(c * F.lit(1024.0) + F.lit(0.5)) / F.lit(1024.0)

    if not segmented:
        w = W.book_window(KEYS, ORDER_COLS)
        rets = mids.withColumn(
            "ret_bps",
            (F.col("mid") / F.lag("mid").over(w) - F.lit(1.0)) * F.lit(1e4),
        )
        rets = rets.withColumn("__ret_q", rq_of(F.col("ret_bps")))
        wf = w.rowsBetween(-19, 0)
        r = F.col("__ret_q")
        return rets.withColumn(
            "rv_20",
            F.when(F.count(r).over(wf) == 20, F.sum(r * r).over(wf)),
        ).drop("__ret_q")

    def build(w):
        ret = (F.col("mid") / F.lag("mid").over(w) - F.lit(1.0)) * F.lit(1e4)
        wf = w.rowsBetween(-19, 0)
        r = rq_of(F.col("ret_bps"))
        return [
            {"ret_bps": ret},
            {"rv_20": F.when(F.count(r).over(wf) == 20, F.sum(r * r).over(wf))},
        ]

    out = W.rolling_segmented(
        mids, build, window=21, keys=KEYS, order_col=ORDER_COLS,
        n_chunks=n_chunks,
    )
    return out.select(*IDS, "mid", "ret_bps", "rv_20")


@register("book_returns_rv", _RV_SQL)
def q_book_returns_rv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W5 (metrics.py:172-193), SIZE-DISPATCHED: below
    ``W.SEG_THRESHOLD_ROWS`` rows per key the plain per-key window
    runs (small series, zero bookkeeping); above it the identical
    surface computes on the chunk+halo segmented path — chosen from the
    events parquet footer rowcount (a metadata pull, no extra job).
    ``book_rv_segmented`` pins the segmented branch explicitly at every
    SF; both branches share this oracle."""
    seg = W.use_segmented(book_rows_per_key(sf_dir))
    return _rv_surface(spark, sf_dir, segmented=seg)


@register("book_rv_segmented", _RV_SQL)
def q_book_rv_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME rolling-RV surface as ``book_returns_rv`` with the
    segmented branch FORCED — the dispatch's explicit-mode test,
    hash-pinned against the identical plain-window oracle at every SF:
    proof that the chunk + (W-1)-row-halo form
    (operators/window_metrics.py::rolling_segmented) is value-identical
    while one instrument's history fans out across ``n_chunks`` cores
    instead of serializing through one (SURVEY §4.1's named scale risk,
    closed for BOUNDED frames the way ``book_cumsum_segmented`` closed
    it for unbounded sums). The lag-based return feeds through the
    segmented path too (chained stages, total lookback 21), so no phase
    of the plan is single-task per key; docs/SCALE_NOTES.md carries the
    single-key 100x probe."""
    return _rv_surface(spark, sf_dir, segmented=True)


def _sql_size_sum(side: str) -> str:
    return " + ".join(
        f"COALESCE({side}{i}_size, 0.0)" for i in range(1, BOOK_DEPTH + 1)
    )


def _sql_notional_sum(side: str) -> str:
    return " + ".join(
        f"{side}{i}_price * {side}{i}_size" for i in range(1, BOOK_DEPTH + 1)
    )


_DEPTH_OFI_SQL = f"""{_BOOK_CTE},
sums AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         {_sql_size_sum("bid")} AS bsz,
         {_sql_size_sum("ask")} AS asz,
         {_sql_notional_sum("bid")} AS bnot,
         {_sql_notional_sum("ask")} AS anot
  FROM book
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  COALESCE(bsz - LAG(bsz) OVER ({_W}), 0.0)
    - COALESCE(asz - LAG(asz) OVER ({_W}), 0.0) AS ofi_k_size,
  ROUND(COALESCE(bnot - LAG(bnot) OVER ({_W}), 0.0)
    - COALESCE(anot - LAG(anot) OVER ({_W}), 0.0), 6) AS ofi_k_notional
FROM sums
"""


@register("book_depth_ofi", _DEPTH_OFI_SQL)
def q_book_depth_ofi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-K size & notional OFI (W8/W9, plot_cli.py:168-183)."""
    book = synthetic_book(spark, sf_dir)
    out = W.add_depth_ofi(
        book, BOOK_DEPTH, notional=False, out_col="ofi_k_size", keys=KEYS, order_col=ORDER_COLS
    )
    out = W.add_depth_ofi(
        out, BOOK_DEPTH, notional=True, out_col="ofi_k_notional", keys=KEYS, order_col=ORDER_COLS
    )
    return out.select(
        *IDS, "ofi_k_size", F.round("ofi_k_notional", 6).alias("ofi_k_notional")
    )


_LEVEL_STATS_SQL = f"""{_BOOK_CTE},
long AS (
  {" UNION ALL ".join(
    f"SELECT exchange_id, symbol, '{side}' AS side, {i} AS level, "
    f"{side}{i}_price AS price, {side}{i}_size AS size FROM book"
    for side in ("bid", "ask") for i in range(1, BOOK_DEPTH + 1)
  )}
),
stats AS (
  SELECT exchange_id, symbol, side, level,
         CAST(SUM(CAST(size AS DECIMAL(18,6))) AS DOUBLE) / COUNT(size) AS avg_size,
         CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) / COUNT(price) AS avg_price,
         COUNT(size) AS n_obs
  FROM long
  GROUP BY exchange_id, symbol, side, level
)
SELECT exchange_id, symbol, side, level, avg_size, avg_price, n_obs,
       avg_size - LAG(avg_size) OVER (
         PARTITION BY exchange_id, symbol, side ORDER BY level) AS size_slope
FROM stats
"""


@register("book_level_stats", _LEVEL_STATS_SQL)
def q_book_level_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 avg size/price per level + W11 slope along the level axis
    (advanced_plots.py:193-269). One melt projection, one partial-agg
    shuffle. The sums are the oracle's exact ``SUM(CAST(x AS
    DECIMAL(18,6)))``, so the averages do not depend on row order, but
    accumulated by ``functions.exact_decimal_sum`` in two BIGINT halves
    per value rather than in a DECIMAL(28,6) buffer (same value and type;
    precision <= 18, up to ~8.6e9 rows per group)."""
    from market_microstructure_toolkit_spark.operators import depth as D

    book = synthetic_book(spark, sf_dir)
    long = D.melt_levels(book, BOOK_DEPTH)
    stats = long.groupBy("exchange_id", "symbol", "side", "level").agg(
        (
            exact_decimal_sum("size", 18, 6).cast("double") / F.count("size")
        ).alias("avg_size"),
        (
            exact_decimal_sum("price", 18, 6).cast("double") / F.count("price")
        ).alias("avg_price"),
        F.count("size").alias("n_obs"),
    )
    w = Window.partitionBy("exchange_id", "symbol", "side").orderBy("level")
    return stats.withColumn(
        "size_slope", F.col("avg_size") - F.lag("avg_size").over(w)
    )


_SPREAD_HIST_SQL = f"""{_BOOK_CTE},
vals AS (
  SELECT CASE WHEN best_bid > 0 AND best_ask > best_bid
              AND (best_bid + best_ask) / 2.0 > 0
         THEN 1e4 * (best_ask - best_bid) / ((best_bid + best_ask) / 2.0)
         END AS spread_bps
  FROM book
)
SELECT
  LEAST(GREATEST(CAST(floor((spread_bps - 0.0) / 10.0 * 60) AS BIGINT), 0), 59) AS bucket,
  COUNT(*) AS n
FROM vals
WHERE spread_bps IS NOT NULL
GROUP BY 1
"""


@register("book_spread_histogram", _SPREAD_HIST_SQL)
def q_book_spread_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: 60-bin fixed-range histogram of relative spread bps
    (advanced_plots.py:122-130) — bucketing + count, fully partial-agg."""
    from market_microstructure_toolkit_spark.operators import depth as D

    book = synthetic_book(spark, sf_dir)
    vals = book.select(
        M.relative_spread_bps("best_bid", "best_ask").alias("spread_bps")
    )
    return D.histogram(vals, "spread_bps", 0.0, 10.0, 60)


_RV_RESET_SQL = f"""{_BOOK_CTE},
mids AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         CASE WHEN raw_nonce % 37 <> 0
              THEN (best_bid + best_ask) / 2.0 END AS mid
  FROM book
),
rets AS (
  SELECT *,
    floor((mid / LAG(mid) OVER ({_W}) - 1.0) * 1e4 * 1024.0 + 0.5) / 1024.0 AS ret_q
  FROM mids
),
grp AS (
  SELECT *,
    SUM(CASE WHEN ret_q IS NULL THEN 1 ELSE 0 END)
      OVER ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gap_grp
  FROM rets
)
SELECT exchange_id, symbol, ts_ms, raw_nonce, mid,
  CASE WHEN COUNT(ret_q) OVER (PARTITION BY exchange_id, symbol, gap_grp
                               ORDER BY ts_ms, raw_nonce
                               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) = 20
       THEN SUM(ret_q * ret_q) OVER (PARTITION BY exchange_id, symbol, gap_grp
                                     ORDER BY ts_ms, raw_nonce
                                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
  END AS rv_reset_20
FROM grp
"""


@register("book_rv_reset", _RV_RESET_SQL)
def q_book_rv_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 reset-on-gap RV (metrics.py:196-232) via the two-stacked-windows
    plan: running null-count assigns a gap-group id, then the rolling
    sum/count runs inside (keys, gap_grp) so frames never span a gap.
    Gaps injected every 37th event; returns quantized (exact sums).

    SIZE-DISPATCHED: above ``W.SEG_THRESHOLD_ROWS`` rows per key the
    gap grouping — an UNBOUNDED running window — is
    replaced by its chunk+halo equivalent: a 20-row frame holding 20
    non-null returns cannot span a gap (a gap row in the frame is
    itself a null return), so the gated RAW frame computes the same
    value without the gap-group window, as two chained bounded stages
    (lookback 21). Quantized returns keep the sums bit-identical."""
    book = synthetic_book(spark, sf_dir)
    mid = F.when(
        F.col("raw_nonce") % 37 != 0,
        (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0),
    )
    mids = book.select(*IDS, mid.alias("mid"))
    if W.use_segmented(book_rows_per_key(sf_dir)):

        def build(w):
            rq = (
                F.floor(
                    (F.col("mid") / F.lag("mid").over(w) - F.lit(1.0))
                    * F.lit(1e4)
                    * F.lit(1024.0)
                    + F.lit(0.5)
                )
                / F.lit(1024.0)
            )
            wf = w.rowsBetween(-19, 0)
            r = F.col("__ret_q")
            return [
                {"__ret_q": rq},
                {
                    "rv_reset_20": F.when(
                        F.count(r).over(wf) == 20, F.sum(r * r).over(wf)
                    )
                },
            ]

        out = W.rolling_segmented(
            mids, build, window=21, keys=KEYS, order_col=list(ORDER_COLS)
        )
        return out.select(*IDS, "mid", "rv_reset_20")
    w = W.book_window(KEYS, ORDER_COLS)
    rq = (
        F.floor(
            (F.col("mid") / F.lag("mid").over(w) - F.lit(1.0))
            * F.lit(1e4)
            * F.lit(1024.0)
            + F.lit(0.5)
        )
        / F.lit(1024.0)
    )
    rets = mids.withColumn("ret_q", rq)
    grp = rets.withColumn(
        "gap_grp",
        F.sum(F.when(F.col("ret_q").isNull(), 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    wg = Window.partitionBy(*KEYS, "gap_grp").orderBy(*ORDER_COLS).rowsBetween(-19, 0)
    r = F.col("ret_q")
    return grp.withColumn(
        "rv_reset_20",
        F.when(F.count(r).over(wg) == 20, F.sum(r * r).over(wg)),
    ).select(*IDS, "mid", "rv_reset_20")


_ROLL_CORR_SQL = f"""{_BOOK_CTE},
lagged AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask,
         bid1_size, ask1_size,
         LAG(best_bid) OVER ({_W}) AS pbb,
         LAG(best_ask) OVER ({_W}) AS pba,
         LAG(bid1_size) OVER ({_W}) AS pbq,
         LAG(ask1_size) OVER ({_W}) AS paq,
         ((best_bid + best_ask) / LAG(best_bid + best_ask) OVER ({_W}) - 1.0) * 1e4 AS ret_bps
  FROM book
),
feat AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, ret_bps,
    COALESCE(
      (CASE WHEN COALESCE(best_bid > pbb, FALSE) THEN 1.0 ELSE 0.0 END) * bid1_size
      - (CASE WHEN COALESCE(best_bid < pbb, FALSE) THEN 1.0 ELSE 0.0 END) * pbq
      - (CASE WHEN COALESCE(best_ask > pba, FALSE) THEN 1.0 ELSE 0.0 END) * paq
      + (CASE WHEN COALESCE(best_ask < pba, FALSE) THEN 1.0 ELSE 0.0 END) * ask1_size,
      0.0) AS ofi
  FROM lagged
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  ROUND(CORR(ofi, ret_bps) OVER ({_W} ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 6) + 0.0 AS ofi_ret_corr_50
FROM feat
"""


def _corr_surface(
    spark: SparkSession, sf_dir: str, segmented: bool, n_chunks: int = 8
) -> DataFrame:
    """Shared W10 pipeline behind ``book_rolling_corr`` (size-dispatched)
    and ``book_corr_segmented`` (explicit segmented mode): rolling
    Pearson correlation of LOBSTER OFI vs mid returns over 50 rows, via
    ANSI-safe guarded pair-aligned moments (windowed F.corr raises on a
    zero-variance window under ANSI — found by the sf1 sweep). Rounded
    6dp (O(1) values, ~1e-14 cross-engine moment-accumulation noise);
    + 0.0 folds a signed zero on BOTH engines (a zero-covariance window
    can round to -0.0 on one engine and 0.0 on the other, and the
    driver's repr-based hash distinguishes them).

    The plain path computes both lag features over the per-key window
    and hands them to :func:`W.add_rolling_corr`, which merges running
    per-block moment states in O(1) per row instead of re-scanning a
    50-row sliding frame. Both build their expressions as SQL text: a
    few hundred py4j round trips per construction where the Column trees
    took ~1,500.

    In segmented mode BOTH lag-derived features (OFI, return) compute
    inside the chunk+halo path as stage 1, the 50-row moments as stage
    2 (total lookback 1 + 49 -> window=51) — no per-key global window
    in any phase."""
    book = synthetic_book(spark, sf_dir)

    if not segmented:
        over = W.over_sql(KEYS, ORDER_COLS)
        feat = book.selectExpr(
            *IDS,
            f"{W.ofi_lobster_sql(over)} AS ofi",
            "((best_bid + best_ask) / lag(best_bid + best_ask)"
            f" OVER ({over}) - 1.0D) * 10000.0D AS ret_bps",
        )
        corr = W.add_rolling_corr(
            feat, "ofi", "ret_bps", 50, out_col="__c", keys=KEYS,
            order_col=ORDER_COLS,
        )
    else:
        mid2 = F.col("best_bid") + F.col("best_ask")

        def corr_cols(wf):
            ofi_x, ret_y = F.col("ofi"), F.col("ret_bps")
            pair = ofi_x.isNotNull() & ret_y.isNotNull()
            x, y = F.when(pair, ofi_x), F.when(pair, ret_y)
            cov = F.covar_samp(x, y).over(wf)
            sx = F.stddev_samp(x).over(wf)
            sy = F.stddev_samp(y).over(wf)
            return F.when((sx > 0) & (sy > 0), cov / (sx * sy))

        def build(w):
            return [
                {
                    "ofi": F.expr(W.ofi_lobster_sql(W.chunk_over_sql(KEYS))),
                    "ret_bps": (mid2 / F.lag(mid2).over(w) - F.lit(1.0))
                    * F.lit(1e4),
                },
                {"__c": corr_cols(w.rowsBetween(-49, 0))},
            ]

        corr = W.rolling_segmented(
            book, build, window=51, keys=KEYS, order_col=ORDER_COLS,
            n_chunks=n_chunks,
        )
    return corr.select(
        *IDS,
        (F.round(F.col("__c"), 6) + F.lit(0.0)).alias("ofi_ret_corr_50"),
    )


@register("book_rolling_corr", _ROLL_CORR_SQL)
def q_book_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 (advanced_plots.py:169), SIZE-DISPATCHED: plain per-key
    window below ``W.SEG_THRESHOLD_ROWS`` rows per key
    (from the events footer rowcount — a metadata pull), chunk+halo
    segmented path above it. ``book_corr_segmented`` pins the segmented
    branch explicitly; both branches share this oracle."""
    seg = W.use_segmented(book_rows_per_key(sf_dir))
    return _corr_surface(spark, sf_dir, segmented=seg)


@register("book_corr_segmented", _ROLL_CORR_SQL)
def q_book_corr_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME rolling-corr surface as ``book_rolling_corr`` with the
    segmented branch FORCED — the dispatch's explicit-mode test, the
    W10 twin of ``book_rv_segmented``'s W5 proof: guarded pair-aligned
    moments over per-chunk frames whose rows and order are identical
    to the single-window form, with no per-key global window in ANY
    phase (segmented rank + broadcast offsets; the OFI and return lags
    run inside the chunks as stage 1). One instrument's history fans
    out across n_chunks cores instead of serializing through one."""
    return _corr_surface(spark, sf_dir, segmented=True)


_MID_ANOMALY_SQL = f"""{_BOOK_CTE},
mids AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS mid
  FROM book
),
feat AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, mid,
    AVG(mid) OVER ({_W} ROWS BETWEEN 49 PRECEDING AND 1 PRECEDING) AS mu,
    STDDEV_SAMP(mid) OVER ({_W} ROWS BETWEEN 49 PRECEDING AND 1 PRECEDING)
      AS sd,
    COUNT(*) OVER ({_W} ROWS BETWEEN 49 PRECEDING AND 1 PRECEDING) AS n_prev
  FROM mids
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
       ROUND(CASE WHEN n_prev >= 20 AND sd > 1e-12
                  THEN (mid - mu) / sd END, 6) AS zscore,
       CASE WHEN n_prev >= 20 AND sd > 1e-12
             AND ABS(ROUND((mid - mu) / sd, 6)) > 3.0 THEN 1 ELSE 0
       END AS is_anomaly
FROM feat
"""


@register("book_mid_anomaly", _MID_ANOMALY_SQL)
def q_book_mid_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detector on the mid price: each tick
    scored against the TRAILING 49-row window (excluding itself — the
    monitor must not let the spike inflate its own baseline), flagged at
    |z| > 3 once 20 priors exist. One instrument-keyed window serves
    mean, std, and count; 6-dp rounding absorbs cross-engine moment
    accumulation noise — and the flag thresholds the ROUNDED |z| on both
    engines, so a tick sitting within stddev last-ulp disagreement of
    the 3.0 boundary cannot flip is_anomaly between Spark and DuckDB."""
    book = synthetic_book(spark, sf_dir)
    w = W.book_window(KEYS, ORDER_COLS).rowsBetween(-49, -1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    feat = book.select(
        *IDS,
        mid.alias("mid"),
        F.avg(mid).over(w).alias("mu"),
        F.stddev_samp(mid).over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_prev"),
    )
    ok = (F.col("n_prev") >= 20) & (F.col("sd") > 1e-12)
    z = (F.col("mid") - F.col("mu")) / F.col("sd")
    return feat.select(
        *IDS,
        F.round(F.when(ok, z), 6).alias("zscore"),
        F.when(ok & (F.abs(F.round(z, 6)) > 3.0), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    )


_TAIL_SQL = f"""{_BOOK_CTE}
SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask
FROM (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask,
         ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol
                            ORDER BY ts_ms DESC, raw_nonce DESC) AS rn
  FROM book
)
WHERE rn <= 100
"""


@register("book_tail", _TAIL_SQL)
def q_book_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 tail-N: most recent 100 rows per instrument without a global
    sort (advanced_plots.py:310-312)."""
    book = synthetic_book(spark, sf_dir)
    w = Window.partitionBy(*KEYS).orderBy(
        F.col("ts_ms").desc(), F.col("raw_nonce").desc()
    )
    return (
        book.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select(*IDS, "best_bid", "best_ask")
    )


_SLICE_SAMPLE_SQL = f"""{_BOOK_CTE},
numbered AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask,
         ROW_NUMBER() OVER ({_W}) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY exchange_id, symbol) AS n
  FROM book
)
SELECT exchange_id, symbol, ts_ms, raw_nonce, idx, best_bid, best_ask
FROM numbered
WHERE EXISTS (
  SELECT 1 FROM generate_series(0, 19) t(i)
  WHERE CAST(floor(i * (n - 1) / 19.0 + 0.5) AS BIGINT) = idx
)
"""


@register("book_slice_sample", _SLICE_SAMPLE_SQL)
def q_book_slice_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14 evenly-spaced positional sampling (impact.py:196-224): pick 20
    linspace rows per instrument series. floor(x+0.5) rounding keeps both
    engines identical (no banker's-rounding divergence)."""
    book = synthetic_book(spark, sf_dir)
    # positional rank + per-key count; size-dispatched to the
    # segmented-rank phase (wscale audit)
    if W.use_segmented(book_rows_per_key(sf_dir)):
        numbered = W.add_position_segmented(
            book.select(*IDS, "best_bid", "best_ask"),
            keys=KEYS,
            order_col=list(ORDER_COLS),
            pos_col="idx",
            n_col="n",
        )
    else:
        w = W.book_window(KEYS, ORDER_COLS)
        wp = Window.partitionBy(*KEYS)
        numbered = book.select(
            *IDS,
            "best_bid",
            "best_ask",
            (F.row_number().over(w) - 1).alias("idx"),
            F.count(F.lit(1)).over(wp).alias("n"),
        )
    picks = F.transform(
        F.sequence(F.lit(0), F.lit(19)),
        lambda i: F.floor(
            i.cast("double") * (F.col("n") - 1) / F.lit(19.0) + F.lit(0.5)
        ),
    )
    return numbered.filter(F.array_contains(picks, F.col("idx"))).select(
        *IDS, "idx", "best_bid", "best_ask"
    )


_ASOF_SQL = f"""{_BOOK_CTE},
targets AS (
  SELECT exchange_id, symbol, raw_nonce AS target_id, ts_ms + 1500 AS target_ts
  FROM (
    SELECT exchange_id, symbol, ts_ms, raw_nonce,
           ROW_NUMBER() OVER ({_W}) AS rn
    FROM book
  )
  WHERE rn % 50 = 1
),
m AS (
  -- nonce-dedup duplicate-ts snapshots to the LOWEST raw_nonce: the
  -- rank-1 pair formulation's ORDER BY (abs_delta, ts_ms, raw_nonce)
  -- picks it anyway, and DuckDB ASOF is nondeterministic among
  -- duplicate ordering values
  SELECT exchange_id, symbol, ts_ms, raw_nonce, best_bid, best_ask
  FROM book
  QUALIFY ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, ts_ms
                             ORDER BY raw_nonce) = 1
),
-- two native ASOF probes (nearest at-or-before / at-or-after) instead
-- of the former +-1h banded self-join: the band is O(targets x rows
-- within 1h), which detonates at sf10 tape density (the whole replica
-- tape spans hours, so EVERY row was a candidate for every target —
-- the 95 GB OOM the first sf10 probe hit); ASOF is one merge pass
bwd AS (
  SELECT t.exchange_id, t.symbol, t.target_id, t.target_ts,
         m.ts_ms, m.raw_nonce, m.best_bid, m.best_ask
  FROM targets t ASOF LEFT JOIN m
    ON t.exchange_id = m.exchange_id AND t.symbol = m.symbol
   AND m.ts_ms <= t.target_ts
),
fwd AS (
  SELECT t.exchange_id, t.symbol, t.target_id, t.target_ts,
         m.ts_ms, m.raw_nonce, m.best_bid, m.best_ask
  FROM targets t ASOF LEFT JOIN m
    ON t.exchange_id = m.exchange_id AND t.symbol = m.symbol
   AND m.ts_ms >= t.target_ts
),
pick AS (
  -- nearer candidate wins; equal distance -> backward (the rank-1
  -- form's ts_ms ASC tiebreak prefers the earlier = backward row)
  SELECT b.exchange_id, b.symbol, b.target_id, b.target_ts,
         b.ts_ms AS b_ts, b.raw_nonce AS b_nonce,
         b.best_bid AS b_bid, b.best_ask AS b_ask,
         f.ts_ms AS f_ts, f.raw_nonce AS f_nonce,
         f.best_bid AS f_bid, f.best_ask AS f_ask,
         (b.ts_ms IS NOT NULL AND (f.ts_ms IS NULL OR
            b.target_ts - b.ts_ms <= f.ts_ms - f.target_ts)) AS use_b
  FROM bwd b JOIN fwd f
    ON b.exchange_id = f.exchange_id AND b.symbol = f.symbol
   AND b.target_id = f.target_id
)
SELECT exchange_id, symbol, target_id, target_ts,
       ts_ms, raw_nonce, abs(ts_ms - target_ts) AS abs_delta,
       best_bid, best_ask
FROM (
  SELECT exchange_id, symbol, target_id, target_ts,
         CASE WHEN use_b THEN b_ts ELSE f_ts END AS ts_ms,
         CASE WHEN use_b THEN b_nonce ELSE f_nonce END AS raw_nonce,
         CASE WHEN use_b THEN b_bid ELSE f_bid END AS best_bid,
         CASE WHEN use_b THEN b_ask ELSE f_ask END AS best_ask
  FROM pick
)
WHERE ts_ms IS NOT NULL AND abs(ts_ms - target_ts) <= 3600000
"""


@register("book_asof_join", _ASOF_SQL)
def q_book_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 nearest-timestamp as-of join (impact_twap.py:174-188): every
    50th row (+1.5s) is a slice target matched to its nearest snapshot
    within 1h. Rides asof_nearest's two-sided union SORT-MERGE: targets
    union into the snapshot stream, two keyed ordered window passes
    carry the latest at-or-before and earliest at-or-after snapshot as
    atomic structs, the nearer in-tolerance candidate wins (equal
    distance -> backward; same-ts -> earliest nonce) — NO join operator
    in the plan (pinned by test_asof_join_is_sort_merge_not_pair_join).
    Oracle: two native ASOF probes (at-or-before / at-or-after, nonce-
    deduped) with the rank-1 formulation's exact tie rules — the former
    +-1h banded self-join oracle was O(targets x band occupancy) and
    OOMed DuckDB at sf10 tape density (hash-identical at every SF to
    the banded form it replaced)."""
    from market_microstructure_toolkit_spark.operators.asof import asof_nearest

    book = synthetic_book(spark, sf_dir).select(
        *IDS, "best_bid", "best_ask"
    )
    w = W.book_window(KEYS, ORDER_COLS)
    targets = (
        book.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") % 50 == 1)
        .select(
            "exchange_id",
            "symbol",
            F.col("raw_nonce").alias("target_id"),
            (F.col("ts_ms") + 1500).alias("target_ts"),
        )
    )
    out = asof_nearest(
        book,
        targets,
        tolerance_ms=3_600_000,
        keys=KEYS,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    )
    return out.select(
        "exchange_id", "symbol", "target_id", "target_ts",
        "ts_ms", "raw_nonce", "abs_delta", "best_bid", "best_ask",
    )


_EVENT_METRICS_SQL = f"""{_BOOK_CTE}
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  (best_bid + best_ask) / 2.0 AS mid,
  CASE WHEN best_bid > 0 AND best_ask > 0
       THEN (best_ask - best_bid) / ((best_bid + best_ask) / 2.0) * 1e4
  END AS spread_bps,
  CASE WHEN COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0) > 0
       THEN (best_ask * COALESCE(bid1_size, 0.0) + best_bid * COALESCE(ask1_size, 0.0))
            / (COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0))
       ELSE (best_bid + best_ask) / 2.0
  END AS microprice
FROM book
"""


@register("book_event_metrics", _EVENT_METRICS_SQL)
def q_book_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mmt-event-metrics L1 bundle (event_metrics.py:66-82): event-
    variant spread_bps (crossed books keep their negative value) and the
    microprice-falls-back-to-mid semantic. OFI-kyle / ret / rv components
    of that surface are covered by book_ofi_kyle and book_returns_rv."""
    book = synthetic_book(spark, sf_dir)
    bb, ba = F.col("best_bid"), F.col("best_ask")
    m = M.mid(bb, ba)
    return book.select(
        *IDS,
        m.alias("mid"),
        F.when((bb > 0) & (ba > 0), (ba - bb) / m * F.lit(1e4)).alias("spread_bps"),
        M.microprice(bb, ba, F.col("bid1_size"), F.col("ask1_size"),
                     fallback_to_mid=True).alias("microprice"),
    )


def _walk_exprs(
    qty_sql: str, depth: int, prefix: str = "", blank: str = "skip",
    side: str = "ask",
) -> dict[str, str]:
    """Closed-form greedy ladder fill as SQL expression strings (X2).

    take_i = least(greatest(qty - cum_{i-1}, 0), avail_i) with cum the
    running sum of valid-level sizes — the same closed form the Spark
    ``walk_book`` aggregate computes. ``blank='skip'`` zeroes invalid
    levels and continues (impact.py:74-108); ``blank='stop'`` truncates
    at the first invalid level (impact_twap.py:65-98) by requiring the
    whole prefix to be valid. Sizes are exact quarters so fills are
    exact; cost adds 0.0 for skipped levels (exact identity). ``qty_sql``
    may be any scalar SQL expression (literal, column, or subquery) —
    each take references it verbatim.
    """
    p = prefix
    lvl_valid = [
        f"({p}{side}{i}_price IS NOT NULL AND {p}{side}{i}_size IS NOT NULL"
        f" AND {p}{side}{i}_size > 0)"
        for i in range(1, depth + 1)
    ]
    if blank == "stop":
        # prefix-AND: level i only usable when levels 1..i are all valid
        valid = []
        for i in range(depth):
            valid.append(lvl_valid[i] if i == 0 else f"({valid[i-1]} AND {lvl_valid[i]})")
    else:
        valid = lvl_valid
    avail = [
        f"CASE WHEN {valid[i - 1]} THEN {p}{side}{i}_size ELSE 0.0 END"
        for i in range(1, depth + 1)
    ]
    cum = ["0.0"]
    for i in range(1, depth):
        cum.append(f"({cum[-1]} + {avail[i - 1]})")
    take = [
        f"LEAST(GREATEST(({qty_sql}) - {cum[i - 1]}, 0.0), {avail[i - 1]})"
        for i in range(1, depth + 1)
    ]
    filled = " + ".join(take)
    cost = " + ".join(
        f"CASE WHEN {valid[i - 1]} THEN ({take[i - 1]}) * {p}{side}{i}_price ELSE 0.0 END"
        for i in range(1, depth + 1)
    )
    touched = " + ".join(
        f"CASE WHEN ({take[i - 1]}) > 0 THEN 1 ELSE 0 END"
        for i in range(1, depth + 1)
    )
    return {"filled": filled, "cost": cost, "touched": touched}


def _walk_sql(qty: float, depth: int) -> str:
    """X2 walk of every snapshot's ask ladder (skip-blank) as one scan."""
    w = _walk_exprs(repr(qty), depth)
    return (
        f"SELECT exchange_id, symbol, ts_ms, raw_nonce,\n"
        f"  {w['filled']} AS filled_qty,\n"
        f"  CASE WHEN ({w['filled']}) > 0 THEN ({w['cost']}) / ({w['filled']}) END"
        f" AS fill_vwap,\n"
        f"  {w['touched']} AS levels_touched\n"
        f"FROM book"
    )


_WALK_SQL = f"{_BOOK_CTE}\n{_walk_sql(3.0, BOOK_DEPTH)}"


@register("book_walk_fill", _WALK_SQL)
def q_book_walk_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 distributed: walk EVERY snapshot's ask ladder for qty 3.0 —
    one ``F.aggregate`` per row, shuffle-free, codegen'd (impact.py:111-145
    semantics, skip-blank ladder). This is the scale path: millions of
    book walks run as a map."""
    from market_microstructure_toolkit_spark.functions.arrays import (
        ladder_from_wide,
        valid_levels,
        walk_book,
    )

    book = synthetic_book(spark, sf_dir)
    fill = walk_book(valid_levels(ladder_from_wide("ask", BOOK_DEPTH)), 3.0)
    return book.withColumn("__f", fill).select(
        *IDS,
        F.col("__f.filled").alias("filled_qty"),
        F.when(F.col("__f.filled") > 0, F.col("__f.cost") / F.col("__f.filled")).alias(
            "fill_vwap"
        ),
        F.col("__f.levels_touched").alias("levels_touched"),
    )


def _twap_naive_sql() -> str:
    """X3 oracle: linspace picks (round-half-even, matching Python's
    ``round``) -> closed-form skip-blank walk at qty total/len(picks).

    Arithmetic mirrors simulate_twap_naive op-for-op: step is computed
    FIRST ((n-1)/(slices-1)) then multiplied by i, and slice_qty divides
    by the DISTINCT pick count — both in IEEE doubles, so values are
    bit-identical to the Spark side.
    """
    w = _walk_exprs("sq", BOOK_DEPTH)
    return f"""{_BOOK_CTE},
s0 AS (SELECT * FROM book WHERE symbol = 'S0'),
nn AS (SELECT COUNT(*) AS n FROM s0),
picks AS (
  SELECT DISTINCT CAST(round_even(i * ((n - 1) / CAST(19 AS DOUBLE)), 0) AS BIGINT) AS pos
  FROM generate_series(0, 19) t(i), nn
),
np AS (SELECT COUNT(*) AS k FROM picks),
numbered AS (
  SELECT *, row_number() OVER (ORDER BY ts_ms, raw_nonce) - 1 AS pos FROM s0
),
picked AS (
  SELECT r.*, (40.0 / CAST(np.k AS DOUBLE)) AS sq FROM numbered r JOIN picks USING (pos), np
)
SELECT CAST(row_number() OVER (ORDER BY pos) AS INTEGER) AS slice,
  ts_ms,
  CAST(NULL AS VARCHAR) AS iso,
  {w['filled']} AS filled_qty,
  sq AS slice_target_qty,
  CASE WHEN ({w['filled']}) > 0 THEN ({w['cost']}) / ({w['filled']}) END AS slice_vwap,
  {w['touched']} AS levels_touched
FROM picked"""


@register("twap_naive_sim", _twap_naive_sql())
def q_twap_naive_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 naive TWAP per-slice table on one instrument's series; also
    cross-validated against the reference's shipped golden oracle in
    tests/test_impact.py."""
    from market_microstructure_toolkit_spark.operators.impact import simulate_twap_naive

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    # want_summary=False: this gate returns the per-slice table; the
    # summary's eager agg job re-evaluated the walk lineage (round 13).
    # n_rows from the arrow user_id histogram (symbol = 'S' || user_id%4,
    # one book row per event): kills the remaining count job — the
    # single-series contract holds by the symbol-literal filter.
    _, per_slice = simulate_twap_naive(
        book, "buy", total_qty=40.0, slices=20, depth=BOOK_DEPTH,
        want_summary=False, n_rows=book_symbol_rows(sf_dir, 0),
    )
    return per_slice


def _twap_multi_sql() -> str:
    """Grouped X3 oracle: the single-series naive-TWAP oracle with every
    per-group stage keyed by (exchange_id, symbol) — per-series row
    counts, per-series linspace picks, per-series numbered join. The
    arithmetic per series is the single-series oracle verbatim, so each
    symbol's slice rows equal the ``twap_naive_sim`` oracle run on that
    symbol's filter."""
    w = _walk_exprs("sq", BOOK_DEPTH)
    return f"""{_BOOK_CTE},
nn AS (
  SELECT exchange_id, symbol, COUNT(*) AS n FROM book
  GROUP BY exchange_id, symbol
),
picks AS (
  SELECT DISTINCT exchange_id, symbol,
    CAST(round_even(i * ((n - 1) / CAST(19 AS DOUBLE)), 0) AS BIGINT) AS pos
  FROM nn, generate_series(0, 19) t(i)
),
np AS (
  SELECT exchange_id, symbol, COUNT(*) AS k FROM picks
  GROUP BY exchange_id, symbol
),
numbered AS (
  SELECT *, row_number() OVER (
    PARTITION BY exchange_id, symbol ORDER BY ts_ms, raw_nonce
  ) - 1 AS pos
  FROM book
),
picked AS (
  SELECT r.*, (40.0 / CAST(np.k AS DOUBLE)) AS sq
  FROM numbered r
  JOIN picks USING (exchange_id, symbol, pos)
  JOIN np USING (exchange_id, symbol)
)
SELECT exchange_id, symbol,
  CAST(row_number() OVER (
    PARTITION BY exchange_id, symbol ORDER BY pos
  ) AS INTEGER) AS slice,
  ts_ms,
  CAST(NULL AS VARCHAR) AS iso,
  {w['filled']} AS filled_qty,
  sq AS slice_target_qty,
  CASE WHEN ({w['filled']}) > 0 THEN ({w['cost']}) / ({w['filled']}) END AS slice_vwap,
  {w['touched']} AS levels_touched
FROM picked"""


@register("twap_multi_instrument", _twap_multi_sql())
def q_twap_multi_instrument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 naive TWAP fanned out over all four synthetic symbols in one
    pass (round-3 verdict item #5): per-instrument schedules built from
    one groupBy-count, broadcast back, and walked distributively — every
    stage partitions by instrument, so parallelism grows with instrument
    count instead of looping the single-series simulator driver-side.
    Each symbol's slice rows are identical to ``twap_naive_sim`` on that
    symbol (pinned in tests/test_impact.py)."""
    from market_microstructure_toolkit_spark.operators.impact import (
        simulate_twap_naive_grouped,
    )

    book = synthetic_book(spark, sf_dir)
    # group_counts from the arrow user_id histogram (round 13): the
    # per-(exchange, symbol) rowcounts ARE the residue-class counts, so
    # the groupBy-count collect job drops; Spark fallback on None.
    _, per_slice = simulate_twap_naive_grouped(
        book, "buy", total_qty=40.0, slices=20, depth=BOOK_DEPTH,
        group_counts=book_symbol_group_counts(sf_dir),
    )
    return per_slice


def _vwap_carry_sql() -> str:
    """X6 oracle: the full carry recurrence as a recursive CTE.

    Mirrors simulate_vwap_real op-for-op for the gate config (buy,
    target 100.0, 24 slices, depth 5, topk_sum proxy): bucket picks via
    round-half-even of s*slices/n, proxy weights as exact quarter sums,
    per-slice size 100.0*(w/total), a SEQUENTIAL left-to-right size sum
    for the drift correction (double addition is order-sensitive), the
    first-argmax drift target, and slice k's desired = size_k +
    carry_{k-1} with the closed-form skip-blank walk. 24 recursion steps
    — config-sized, like the driver-side loop it checks.
    """
    depth = BOOK_DEPTH
    valid = [
        f"(r.ask{i}_price IS NOT NULL AND r.ask{i}_size IS NOT NULL"
        f" AND r.ask{i}_size > 0)"
        for i in range(1, depth + 1)
    ]
    proxy = " + ".join(
        f"CASE WHEN {v} THEN r.ask{i}_size ELSE 0.0 END"
        for i, v in enumerate(valid, start=1)
    )
    w = _walk_exprs("r.sz + rec.carry", depth, prefix="r.")
    ask_cols = ", ".join(
        f"ask{i}_price, ask{i}_size" for i in range(1, depth + 1)
    )
    # AS MATERIALIZED below is a pure optimization fence (DuckDB): the
    # recursive members reference prox/sz0/rows_ via scalar subqueries
    # and joins, and an INLINED single-reference CTE chain re-derives
    # the 10M-row book build on EVERY recursion step at sf10 (measured:
    # >20 min wall, 48 re-scans). Materializing the 24-row intermediates
    # (and s0, whose two consumers nn+numbered would each rebuild the
    # book) collapses the recursion to config-sized work. Values are
    # byte-identical — the fence changes evaluation count, not results.
    return f"""{_BOOK_CTE.replace("WITH ", "WITH RECURSIVE ")},
s0 AS MATERIALIZED (SELECT * FROM book WHERE symbol = 'S0'),
nn AS (SELECT COUNT(*) AS n FROM s0),
numbered AS (
  SELECT *, row_number() OVER (ORDER BY ts_ms, raw_nonce) - 1 AS pos FROM s0
),
sl AS (
  SELECT s, LEAST(GREATEST(CAST(round_even(s * 24 / CAST(n AS DOUBLE), 0) AS BIGINT), 0), n - 1) AS pos
  FROM generate_series(0, 23) t(s), nn
),
picked AS (SELECT sl.s, r.* FROM sl JOIN numbered r ON r.pos = sl.pos),
prox AS MATERIALIZED (
  SELECT s, GREATEST(0.0, {proxy.replace('r.', '')}) AS w,
         (best_bid + best_ask) / 2.0 AS mid, ts_ms, {ask_cols}
  FROM picked
),
tot AS (SELECT SUM(w) AS total FROM prox),
sz0 AS MATERIALIZED (
  SELECT s, CASE WHEN total <= 0 THEN 100.0 / 24 ELSE 100.0 * (w / total) END AS sz
  FROM prox, tot
),
ssum(s, acc) AS (
  SELECT 0, (SELECT sz FROM sz0 WHERE s = 0)
  UNION ALL
  SELECT ssum.s + 1, ssum.acc + (SELECT sz FROM sz0 WHERE sz0.s = ssum.s + 1)
  FROM ssum WHERE ssum.s < 23
),
errv AS (SELECT 100.0 - acc AS err FROM ssum WHERE s = 23),
jmax AS (SELECT s AS j FROM sz0 ORDER BY sz DESC, s LIMIT 1),
rows_ AS MATERIALIZED (
  SELECT p.s + 1 AS sn, p.mid, p.ts_ms, {ask_cols},
         z.sz + CASE WHEN abs(e.err) > 1e-9 AND p.s = m.j THEN e.err ELSE 0.0 END AS sz
  FROM prox p JOIN sz0 z ON z.s = p.s, errv e, jmax m
),
rec(s, carry, slice_target, desired, filled, cost, touched, mid, ts_ms) AS (
  SELECT CAST(0 AS INTEGER), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
         0, CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)
  UNION ALL
  SELECT CAST(r.sn AS INTEGER),
         GREATEST(0.0, (r.sz + rec.carry) - ({w['filled']})),
         r.sz,
         r.sz + rec.carry,
         {w['filled']},
         {w['cost']},
         {w['touched']},
         r.mid, r.ts_ms
  FROM rec JOIN rows_ r ON r.sn = rec.s + 1
)
SELECT s AS slice, ts_ms, '' AS iso,
  slice_target AS slice_target_qty,
  desired AS desired_qty_incl_carry,
  filled AS filled_qty,
  CASE WHEN filled > 0 THEN cost / filled ELSE CAST('nan' AS DOUBLE) END AS slice_vwap,
  CAST(touched AS INTEGER) AS levels_touched,
  mid,
  CASE WHEN mid <> 0 AND filled > 0
       THEN (((cost / filled) - mid) / mid) * 1e4 END AS slippage_bps_vs_mid,
  carry AS carry_to_next
FROM rec WHERE s >= 1"""


@register("vwap_carry_sim", _vwap_carry_sql())
def q_vwap_carry_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 carry VWAP per-slice table; golden-validated in tests. Carry
    recurrence runs driver-side over <= slices rows; the oracle replays
    the same recurrence as a 24-step recursive CTE."""
    from market_microstructure_toolkit_spark.operators.impact import (
        VwapConfig,
        simulate_vwap_real,
    )

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    cfg = VwapConfig(side="buy", target_qty=100.0, slices=24, depth_k=BOOK_DEPTH,
                     fee_bps=5.0, proxy="topk_sum")
    # n_rows from the arrow user_id histogram (round 13): S0-literal
    # filter satisfies the single-series contract; count job drops.
    _, per_slice = simulate_vwap_real(
        book, cfg, n_rows=book_symbol_rows(sf_dir, 0)
    )
    return per_slice


def _slope_sql_side(side: str) -> str:
    levels = ", ".join(
        f"{{'p': {side}{i}_price, 's': {side}{i}_size}}"
        for i in range(1, BOOK_DEPTH + 1)
    )
    return f"""
    list_filter([{levels}], e -> e.p IS NOT NULL AND e.s IS NOT NULL) AS lv_{side}"""


def _slope_sql_expr(side: str) -> str:
    lv = f"lv_{side}"
    return f"""
  CASE WHEN len({lv}) >= 2 AND
            len({lv}) * sxx_{side} - sx_{side} * sx_{side} != 0
       THEN ROUND((len({lv}) * sxy_{side} - sx_{side} * sy_{side})
                  / (len({lv}) * sxx_{side} - sx_{side} * sx_{side}), 6)
  END AS slope_{side}"""


def _slope_sums(side: str) -> str:
    lv = f"lv_{side}"
    return f"""
    list_sum(list_transform({lv}, e -> abs(e.p - {lv}[1].p))) AS sx_{side},
    list_sum(list_transform(range(1, len({lv}) + 1),
             i -> list_sum(list_transform({lv}[1:i], e -> e.s)))) AS sy_{side},
    list_sum(list_transform({lv}, e -> abs(e.p - {lv}[1].p) * abs(e.p - {lv}[1].p))) AS sxx_{side},
    list_sum(list_transform(range(1, len({lv}) + 1),
             i -> abs({lv}[i].p - {lv}[1].p)
                  * list_sum(list_transform({lv}[1:i], e -> e.s)))) AS sxy_{side}"""


_BOOK_SLOPE_SQL = f"""{_BOOK_CTE},
ladders AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,{_slope_sql_side("bid")},{_slope_sql_side("ask")}
  FROM book
),
sums AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, lv_bid, lv_ask,{_slope_sums("bid")},{_slope_sums("ask")}
  FROM ladders
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,{_slope_sql_expr("bid")},{_slope_sql_expr("ask")}
FROM sums
"""


@register("book_slope", _BOOK_SLOPE_SQL)
def q_book_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 per-row OLS book slope both sides: x = |p_i - p_1|,
    y = cumulative size over VALID levels, slope = OLS through the mean —
    one single-pass fold per side, materialized ONCE per row behind an
    explode(array(...)) Generate barrier (higher-order aggregates are
    interpreted; naive multi-extraction re-runs the fold per field).
    Rounded 6dp (sums of <=K doubles reorder at ~1e-13)."""
    book = synthetic_book(spark, sf_dir)
    state = F.explode(
        F.array(
            F.struct(
                M.book_slope_state("bid", BOOK_DEPTH).alias("b"),
                M.book_slope_state("ask", BOOK_DEPTH).alias("a"),
            )
        )
    )
    return book.select(*IDS, state.alias("_st")).select(
        *IDS,
        F.round(M.book_slope_from_state(F.col("_st.b")), 6).alias("slope_bid"),
        F.round(M.book_slope_from_state(F.col("_st.a")), 6).alias("slope_ask"),
    )


_OHLC_SQL = f"""{_BOOK_CTE},
mids AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS mid,
         COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0) AS l1_vol,
         ts_ms // 1000 * 1000 AS bucket_ms
  FROM book
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, bucket_ms
                       ORDER BY ts_ms, raw_nonce) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, bucket_ms
                       ORDER BY ts_ms DESC, raw_nonce DESC) AS rn_d
  FROM mids
)
SELECT exchange_id, symbol, bucket_ms,
       MAX(CASE WHEN rn_a = 1 THEN mid END) AS open_mid,
       MAX(mid) AS high_mid,
       MIN(mid) AS low_mid,
       MAX(CASE WHEN rn_d = 1 THEN mid END) AS close_mid,
       COUNT(*) AS n_snapshots,
       SUM(l1_vol) AS l1_volume
FROM ranked
GROUP BY exchange_id, symbol, bucket_ms
"""


_VOL_EST_SQL = f"""WITH ohlc AS ({_OHLC_SQL})
SELECT exchange_id, symbol, bucket_ms,
  ROUND((LN(high_mid / low_mid) * LN(high_mid / low_mid))
        / (4.0 * LN(2.0)), 6) AS parkinson_var,
  ROUND(0.5 * LN(high_mid / low_mid) * LN(high_mid / low_mid)
        - (2.0 * LN(2.0) - 1.0)
          * LN(close_mid / open_mid) * LN(close_mid / open_mid),
        6) AS garman_klass_var,
  ROUND(LN(high_mid / close_mid) * LN(high_mid / open_mid)
        + LN(low_mid / close_mid) * LN(low_mid / open_mid),
        6) AS rogers_satchell_var,
  n_snapshots
FROM ohlc
"""


@register("book_vol_estimators", _VOL_EST_SQL)
def q_book_vol_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based volatility estimators per OHLC bucket — Parkinson
    (1980), Garman-Klass (1980), Rogers-Satchell (1991) variances from
    the 1-second mid OHLC rollup. The OHLC inputs come from order-free
    aggregates (max/min/rank-picked open+close), so only the final
    per-row log arithmetic can differ cross-engine (libm last-ulp);
    6-dp rounding absorbs it. Plan shape: reuses the single
    instrument+bucket shuffle of the OHLC rollup, everything after is a
    map — the continuous-aggregate pattern a hypertable would
    materialize incrementally."""
    ohlc = q_book_resample_ohlc(spark, sf_dir)
    o, h, l, c = "open_mid", "high_mid", "low_mid", "close_mid"
    return ohlc.select(
        *KEYS,
        "bucket_ms",
        F.round(M.parkinson_var(h, l), 6).alias("parkinson_var"),
        F.round(M.garman_klass_var(o, h, l, c), 6).alias("garman_klass_var"),
        F.round(M.rogers_satchell_var(o, h, l, c), 6).alias(
            "rogers_satchell_var"
        ),
        "n_snapshots",
    )


_ROLL_AMIHUD_SQL = f"""{_BOOK_CTE},
mids AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS mid,
         COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0) AS l1_vol
  FROM book
),
staged AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, l1_vol,
    mid - LAG(mid) OVER ({_W}) AS d,
    LN(mid / LAG(mid) OVER ({_W})) AS logret
  FROM mids
),
diffs AS (
  SELECT exchange_id, symbol, d,
    LAG(d) OVER ({_W}) AS d_prev,
    logret, l1_vol
  FROM staged
)
SELECT exchange_id, symbol,
  ROUND(2.0 * SQRT(GREATEST(-COVAR_SAMP(d, d_prev), 0.0)), 6)
    AS roll_spread_est,
  ROUND(AVG({q2k_sql("CASE WHEN l1_vol > 0 THEN ABS(logret) / l1_vol END", 36)}) * 1e6, 6)
    AS amihud_illiq_x1e6,
  COUNT(*) AS n_ticks
FROM diffs
GROUP BY exchange_id, symbol
"""


@register("book_roll_amihud", _ROLL_AMIHUD_SQL)
def q_book_roll_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic liquidity estimators per instrument: Roll (1984) implied
    spread — 2·sqrt(max(0, −Cov(Δmid_t, Δmid_{t−1}))) — and Amihud
    (2002) illiquidity, mean |log return| per unit of L1 volume (×1e6
    for readable magnitudes). One instrument-keyed window computes the
    lagged differences, then a partial-aggregating groupBy on the same
    keys — two shuffle-light stages that co-partition at any scale. The
    Amihud summands are quantized to 2^-36 multiples so their mean is
    exact in any accumulation order (ADVICE r7); the covariance moments
    can't be made order-free cheaply, so that output keeps the 6-dp
    rounding idiom."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    l1_vol = F.coalesce(F.col("bid1_size"), F.lit(0.0)) + F.coalesce(
        F.col("ask1_size"), F.lit(0.0)
    )
    # two chained lag-1 stages (d, logret; then d_prev) -> total
    # lookback 3; size-dispatched plain <-> chunk+halo (wscale audit)
    diffs = W.series_stages(
        book.select(
            *KEYS, *ORDER_COLS, mid.alias("mid"), l1_vol.alias("l1_vol")
        ),
        lambda w: [
            {
                "d": F.col("mid") - F.lag("mid").over(w),
                "logret": F.log(F.col("mid") / F.lag("mid").over(w)),
            },
            {"d_prev": F.lag("d").over(w)},
        ],
        window=3,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )
    return diffs.groupBy(*KEYS).agg(
        F.round(
            F.lit(2.0)
            * F.sqrt(F.greatest(-F.covar_samp("d", "d_prev"), F.lit(0.0))),
            6,
        ).alias("roll_spread_est"),
        F.round(
            F.avg(
                q2k_col(
                    F.when(
                        F.col("l1_vol") > 0,
                        F.abs(F.col("logret")) / F.col("l1_vol"),
                    ),
                    36,
                )
            )
            * F.lit(1e6),
            6,
        ).alias("amihud_illiq_x1e6"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


@register("book_resample_ohlc", _OHLC_SQL)
def q_book_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style downsample: 1-second OHLC of mid + L1 volume per
    instrument (the continuous-aggregate shape). First/last via ranked
    rows in the SAME instrument-keyed shuffle as the bucket groupBy; L1
    sizes are 0.25-multiples so volume sums are exact in any order."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    l1_vol = F.coalesce(F.col("bid1_size"), F.lit(0.0)) + F.coalesce(
        F.col("ask1_size"), F.lit(0.0)
    )
    mids = book.select(
        *KEYS, "ts_ms", "raw_nonce", mid.alias("mid"), l1_vol.alias("l1_vol"),
        ((F.col("ts_ms") / 1000).cast("long") * 1000).alias("bucket_ms"),
    )
    wa = Window.partitionBy(*KEYS, "bucket_ms").orderBy("ts_ms", "raw_nonce")
    wd = Window.partitionBy(*KEYS, "bucket_ms").orderBy(
        F.col("ts_ms").desc(), F.col("raw_nonce").desc()
    )
    return (
        mids.withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
        .groupBy(*KEYS, "bucket_ms")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("mid"))).alias("open_mid"),
            F.max("mid").alias("high_mid"),
            F.min("mid").alias("low_mid"),
            F.max(F.when(F.col("rn_d") == 1, F.col("mid"))).alias("close_mid"),
            F.count(F.lit(1)).alias("n_snapshots"),
            F.sum("l1_vol").alias("l1_volume"),
        )
    )


def _vwap_now_sql() -> str:
    """X4 oracle: walk the FIRST snapshot (full (ts_ms, raw_nonce) order)
    for the whole qty; slippage in the naive X3/X4 convention
    (1e4*(vwap/mid - 1) on the buy side)."""
    w = _walk_exprs("25.0", BOOK_DEPTH)
    return f"""{_BOOK_CTE},
s0 AS (SELECT * FROM book WHERE symbol = 'S0'),
frst AS (SELECT * FROM s0 ORDER BY ts_ms, raw_nonce LIMIT 1),
lst AS (
  SELECT (best_bid + best_ask) / 2.0 AS mid_close
  FROM s0 ORDER BY ts_ms DESC, raw_nonce DESC LIMIT 1
),
w AS (
  SELECT (best_bid + best_ask) / 2.0 AS mid_open,
         {w['filled']} AS filled,
         {w['cost']} AS cost,
         {w['touched']} AS touched
  FROM frst
)
SELECT 'buy' AS side,
  25.0 AS target_qty,
  filled AS filled_qty,
  CASE WHEN filled > 0 THEN cost / filled END AS vwap,
  cost AS notional,
  CASE WHEN filled > 0 AND mid_open <> 0
       THEN 1e4 * ((cost / filled) / mid_open - 1.0) END AS slippage_bps_vs_mid_open,
  CASE WHEN filled > 0 AND mid_close <> 0
       THEN 1e4 * ((cost / filled) / mid_close - 1.0) END AS slippage_bps_vs_mid_close,
  CAST(1 AS INTEGER) AS slices,
  CAST(touched AS INTEGER) AS levels_touched
FROM w, lst"""


@register("vwap_now_sim", _vwap_now_sql())
def q_vwap_now_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: one-shot walk of the first snapshot (impact.py:324-396) —
    orderBy(ts).limit(1) -> array-fold walk -> one-row summary. One
    instrument: a recording is the simulator's unit of work."""
    from market_microstructure_toolkit_spark.operators.impact import (
        simulate_vwap_onbook,
    )

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    return simulate_vwap_onbook(book, "buy", 25.0, BOOK_DEPTH)


def _twap_real_equal_sql() -> str:
    """X5 oracle (equal schedule, no jitter): the deterministic half of the
    realistic TWAP — round-half-even schedule positions ((i*(n-1))/15,
    product before division like the Spark side), last-duplicate-wins
    nearest-row match (max raw_nonce among rows sharing the target ts),
    stop-at-first-blank walk, and buy-side fee uplift (1.0 + 2.0/1e4
    written as the expression so the double matches the driver-computed
    literal). The stochastic-schedule gate (twap_real_sim) exercises the
    seeded-RNG path and stays rows-only: a Mersenne Twister draw is not
    SQL-expressible; its goldens live in tests/test_impact.py.
    """
    w = _walk_exprs("CAST(2.5 AS DOUBLE)", BOOK_DEPTH, blank="stop")
    return f"""{_BOOK_CTE},
s0 AS (SELECT * FROM book WHERE symbol = 'S0'),
nn AS (SELECT COUNT(*) AS n FROM s0),
numbered AS (
  SELECT *, row_number() OVER (ORDER BY ts_ms, raw_nonce) - 1 AS pos FROM s0
),
sl AS (
  SELECT s, CAST(round_even((s - 1) * (n - 1) / CAST(15 AS DOUBLE), 0) AS BIGINT) AS pos
  FROM generate_series(1, 16) t(s), nn
),
tsz AS (SELECT sl.s, r.ts_ms AS target_ts FROM sl JOIN numbered r USING (pos)),
matched AS (
  SELECT t.s AS slice, r.*
  FROM tsz t JOIN numbered r ON r.ts_ms = t.target_ts
  QUALIFY row_number() OVER (PARTITION BY t.s ORDER BY r.raw_nonce DESC) = 1
)
SELECT CAST(slice AS INTEGER) AS slice,
  CAST(ts_ms AS BIGINT) AS ts_ms,
  '' AS iso,
  {w['filled']} AS filled_qty,
  CAST(2.5 AS DOUBLE) AS slice_target_qty,
  CASE WHEN ({w['filled']}) > 0
       THEN GREATEST(({w['cost']}) * (1.0 + 2.0 / 1e4), 0.0) / ({w['filled']})
       ELSE CAST('nan' AS DOUBLE) END AS slice_vwap,
  {w['touched']} AS levels_touched
FROM matched"""


@register("twap_real_equal_sim", _twap_real_equal_sql())
def q_twap_real_equal_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 realistic TWAP, equal schedule + zero jitter: the deterministic
    path (schedule positions, nearest-row as-of with last-duplicate ties,
    stop-at-first-blank walk, fees) is fully SQL-oracled; the seeded
    stochastic path keeps its own rows-only gate below."""
    from market_microstructure_toolkit_spark.operators.impact import (
        TwapConfig,
        simulate_twap_real,
    )

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    cfg = TwapConfig(
        side="buy", target_qty=40.0, slices=16, fee_bps=2.0,
        jitter_ms=0, schedule="equal", depth_cap=BOOK_DEPTH,
    )
    # want_summary=False: per-slice gate; skip the summary agg job (r13)
    # n_rows from the arrow user_id histogram (round 13): the S0-literal
    # filter satisfies the single-series contract by construction, so
    # the count job drops; Spark fallback on None.
    _, per_slice = simulate_twap_real(
        book, cfg, want_summary=False, n_rows=book_symbol_rows(sf_dir, 0)
    )
    return per_slice


def _twap_real_stoch_sql() -> str:
    """X5 oracle, stochastic schedule + jitter: the seeded draws are
    CONFIG constants, not data — Mersenne Twister output for seed 13
    depends on nothing but the seed, so the gamma slice sizes and the
    uniform jitter offsets are computed here once (the same
    ``random.Random`` calls the simulator makes) and embedded as SQL
    literals via ``repr`` (shortest-roundtrip, parses to the identical
    double). Everything data-dependent stays SQL: round-half-even
    schedule positions, truncate-toward-zero jittered targets
    (``int(t + u)`` == ``trunc`` for positive ts), nearest-row match
    ordered (abs delta, later ts, last-written nonce), stop-at-blank
    walk, buy-fee uplift."""
    import random

    slices, seed, target, half = 16, 13, 40.0, 250.0
    rng = random.Random(seed)
    draws = [rng.gammavariate(3.0, 1.0) for _ in range(slices)]
    total = sum(draws)
    sizes = [target * (d / total) for d in draws]
    rng = random.Random(seed)
    jitters = [rng.uniform(-half, half) for _ in range(slices)]
    # String-quoted literals: DuckDB parses a bare numeric literal as
    # DECIMAL before widening, dropping the 17th significant digit; the
    # VARCHAR->DOUBLE cast is an exact shortest-roundtrip parse.
    vals = ",\n    ".join(
        f"({k + 1}, CAST('{sizes[k]!r}' AS DOUBLE), CAST('{jitters[k]!r}' AS DOUBLE))"
        for k in range(slices)
    )
    w = _walk_exprs("slice_target_qty", BOOK_DEPTH, blank="stop")
    return f"""{_BOOK_CTE},
s0 AS (SELECT * FROM book WHERE symbol = 'S0'),
nn AS (SELECT COUNT(*) AS n FROM s0),
numbered AS (
  SELECT *, row_number() OVER (ORDER BY ts_ms, raw_nonce) - 1 AS pos FROM s0
),
sched(s, qty, u) AS (VALUES
    {vals}
),
sl AS (
  SELECT s, qty, u,
         CAST(round_even((s - 1) * (n - 1) / CAST({slices - 1} AS DOUBLE), 0) AS BIGINT) AS pos
  FROM sched, nn
),
tsz AS (
  SELECT sl.s, sl.qty,
         CAST(trunc(CAST(r.ts_ms AS DOUBLE) + sl.u) AS BIGINT) AS target_ts
  FROM sl JOIN numbered r USING (pos)
),
matched AS (
  SELECT t.s AS slice, t.qty AS slice_target_qty, r.*
  FROM tsz t CROSS JOIN s0 r
  QUALIFY row_number() OVER (
    PARTITION BY t.s
    ORDER BY abs(r.ts_ms - t.target_ts), r.ts_ms DESC, r.raw_nonce DESC
  ) = 1
)
SELECT CAST(slice AS INTEGER) AS slice,
  CAST(ts_ms AS BIGINT) AS ts_ms,
  '' AS iso,
  {w['filled']} AS filled_qty,
  slice_target_qty,
  CASE WHEN ({w['filled']}) > 0
       THEN GREATEST(({w['cost']}) * (1.0 + 2.0 / 1e4), 0.0) / ({w['filled']})
       ELSE CAST('nan' AS DOUBLE) END AS slice_vwap,
  {w['touched']} AS levels_touched
FROM matched"""


@register("twap_real_sim", _twap_real_stoch_sql())
def q_twap_real_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: realistic TWAP per-slice table — seeded Dirichlet slice sizes,
    jittered schedule (driver-side RNG for reproducibility,
    impact_twap.py:112-171), broadcast as-of row match, fees. One
    instrument: a recording is the simulator's unit of work (ts_ms ties
    across merged symbols would otherwise make the nearest-row match
    depend on which symbol's book wins the tie). The oracle embeds the
    seed-13 draws as literals (see ``_twap_real_stoch_sql``), so this
    gate is fully hash-checked despite the stochastic schedule."""
    from market_microstructure_toolkit_spark.operators.impact import (
        TwapConfig,
        simulate_twap_real,
    )

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    cfg = TwapConfig(
        side="buy", target_qty=40.0, slices=16, fee_bps=2.0,
        jitter_ms=500, schedule="stochastic", seed=13, depth_cap=BOOK_DEPTH,
    )
    # want_summary=False: per-slice gate; skip the summary agg job (r13)
    # n_rows from the arrow user_id histogram (round 13): the S0-literal
    # filter satisfies the single-series contract by construction, so
    # the count job drops; Spark fallback on None.
    _, per_slice = simulate_twap_real(
        book, cfg, want_summary=False, n_rows=book_symbol_rows(sf_dir, 0)
    )
    return per_slice


def _csv_roundtrip_sql() -> str:
    """S5+S7+P16+P17 oracle: the CSV boundary quantizes every double
    through ``%.10f`` (then the source parses it back), so the oracle
    applies the identical decimal quantization via DuckDB ``printf`` —
    NULLs ride through as blanks on both sides."""
    dbls = ["best_bid", "best_ask"] + [
        f"{s}{i}_{f}"
        for i in range(1, BOOK_DEPTH + 1)
        for s in ("bid", "ask")
        for f in ("price", "size")
    ]
    quant = ",\n  ".join(
        f"CAST(printf('%.10f', {c}) AS DOUBLE) AS {c}" for c in dbls
    )
    return f"""{_BOOK_CTE}
SELECT ts_ms, CAST(NULL AS VARCHAR) AS iso, exchange_id, symbol, book_level,
  raw_nonce,
  {quant}
FROM book"""


@register("book_csv_roundtrip", _csv_roundtrip_sql())
def q_book_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 CSV sink -> S7 CSV source end-to-end: write the synthetic book
    with %.10f float formatting and blank nulls (record.py:92-98), read
    it back with ''->NULL + try_cast typing (metrics_cli.py:44-50,
    _as_float_or_none P17). The returned frame is the round-tripped book
    — hash-compared against the printf-quantized oracle, proving the
    sink/source pair loses exactly the sub-1e-10 bits and nothing else."""

    from market_microstructure_toolkit_spark.schema import book_header
    from market_microstructure_toolkit_spark.sources.book_io import (
        read_book_csv,
        write_book_csv,
    )

    book = synthetic_book(spark, sf_dir)
    path = _scratch(prefix="mmt_csv_rt_")
    write_book_csv(book, path)
    back = read_book_csv(spark, path, BOOK_DEPTH)
    return back.select(*book_header(BOOK_DEPTH))


@register("book_parquet_roundtrip", f"{_BOOK_CTE} SELECT book.*, CAST(NULL AS VARCHAR) AS iso FROM book")
def q_book_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 parquet sink -> S8 parquet source, hive-partitioned by symbol
    (the recorder layout that lets downstream reads prune partitions at
    scale). Parquet is lossless for doubles, so the oracle is the book
    itself — any bit flip in the sink/source pair breaks the hash."""

    from market_microstructure_toolkit_spark.sources.book_io import (
        read_book_parquet,
        write_book_parquet,
    )

    book = synthetic_book(spark, sf_dir)
    path = _scratch(prefix="mmt_pq_rt_")
    write_book_parquet(book, path, partition_by=("symbol",))
    back = read_book_parquet(spark, path)
    return back.select(*book.columns).withColumn(
        "iso", F.lit(None).cast("string")
    )


@register(
    "iso_utc_format",
    f"""{_BOOK_CTE}
SELECT ts_ms, raw_nonce, symbol,
  strftime(epoch_ms(ts_ms), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso
FROM book""",
)


def q_iso_utc_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 ISO-8601 UTC formatting (snapshot.py:38-39) over every
    snapshot timestamp — string-compared against DuckDB's strftime, so
    the session-timezone independence the register wrapper enforces is
    load-bearing here."""
    from market_microstructure_toolkit_spark.functions.microstructure import iso_utc

    book = synthetic_book(spark, sf_dir)
    return book.select(
        "ts_ms", "raw_nonce", "symbol", iso_utc("ts_ms").alias("iso")
    )


def _summary_append_sql() -> str:
    x4 = _vwap_now_sql()
    return f"SELECT * FROM ({x4}) UNION ALL SELECT * FROM ({x4})"


@register("summary_append_sink", _summary_append_sql())
def q_summary_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 summary-append sink (impact_twap_cli.py:51-56): two simulator
    runs append one-row summaries to the same CSV target; reading the
    accumulated file back yields both rows bit-exact (Spark writes
    doubles in shortest-roundtrip form). Oracle: the X4 summary UNION'd
    with itself."""

    from market_microstructure_toolkit_spark.operators.impact import (
        simulate_vwap_onbook,
    )
    from market_microstructure_toolkit_spark.sources.book_io import (
        write_summary_append,
    )

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    summary = simulate_vwap_onbook(book, "buy", 25.0, BOOK_DEPTH)
    path = _scratch(prefix="mmt_sum_append_")
    write_summary_append(summary, path)
    write_summary_append(summary, path)
    raw = spark.read.option("header", True).csv(path)
    casts = {
        "side": "string",
        "target_qty": "double",
        "filled_qty": "double",
        "vwap": "double",
        "notional": "double",
        "slippage_bps_vs_mid_open": "double",
        "slippage_bps_vs_mid_close": "double",
        "slices": "long",
        "levels_touched": "long",
    }
    return raw.select(
        *[F.col(c).try_cast(t).alias(c) for c, t in casts.items()]
    )


_GRID_SAMPLE_SQL = f"""{_BOOK_CTE},
rng AS (
  SELECT symbol, MIN(ts_ms) AS a, MAX(ts_ms) AS b FROM book GROUP BY symbol
),
ticks AS (
  SELECT symbol,
         unnest(generate_series(a, b, GREATEST(1, (b - a) // 500))) AS tick
  FROM rng
),
snaps AS (
  SELECT symbol, ts_ms, (best_bid + best_ask) / 2.0 AS mid
  FROM book
  QUALIFY row_number() OVER (PARTITION BY symbol, ts_ms ORDER BY raw_nonce DESC) = 1
)
SELECT t.symbol, t.tick AS tick_ms, s.ts_ms AS src_ts_ms, s.mid,
       t.tick - s.ts_ms AS staleness_ms
FROM ticks t ASOF JOIN snaps s ON t.symbol = s.symbol AND t.tick >= s.ts_ms
"""


@register("recorder_grid_sample", _GRID_SAMPLE_SQL)
def q_recorder_grid_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 fixed-interval recorder semantics as a batch plan: sample each
    symbol's book on an evenly spaced time grid (span/500 per symbol),
    taking the latest snapshot at-or-before each tick — the same
    state-at-tick the reference's fixed-Hz loop records
    (record.py recorder loop; SURVEY §2.1 S3).

    Scale shape: ONE window pass over (snapshots UNION ticks) ordered by
    (ts, tag, nonce) and partitioned BY SYMBOL — the standard distributed
    backward-as-of, no per-tick lookup join and no unpartitioned sort.
    The tie rules are explicit: a snapshot sharing the tick's timestamp
    counts (tag orders snapshots first), duplicate-ts snapshots resolve
    to the highest nonce (last written wins) — which is exactly DuckDB's
    ASOF JOIN over the nonce-deduped book."""
    book = synthetic_book(spark, sf_dir)
    rng = book.groupBy("symbol").agg(
        F.min("ts_ms").alias("a"), F.max("ts_ms").alias("b")
    )
    snaps = book.select(
        "symbol",
        F.col("ts_ms").alias("t"),
        F.lit(0).alias("tag"),
        "raw_nonce",
        # ATOMIC carry (one struct, not per-column lasts): the matched
        # snapshot's NULL mid (empty-ask plant) must surface as NULL,
        # never back-fill from an older snapshot — ASOF JOIN semantics
        F.struct(
            F.col("ts_ms").alias("src_ts"),
            ((F.col("best_bid") + F.col("best_ask")) / 2.0).alias("mid"),
        ).alias("snap"),
    )
    ticks = rng.select(
        "symbol",
        F.explode(
            F.sequence(
                F.col("a"),
                F.col("b"),
                F.greatest(F.lit(1).cast("long"), F.expr("(b - a) DIV 500")),
            )
        ).alias("t"),
    ).select(
        "symbol",
        "t",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("raw_nonce"),
        F.lit(None).cast(snaps.schema["snap"].dataType).alias("snap"),
    )
    u = snaps.unionByName(ticks)
    # running forward-fill of the snapshot struct onto the grid: size-
    # dispatched to the segmented carry (selection, value-identical)
    if W.use_segmented(book_rows_per_key(sf_dir)):
        merged = W.add_running_last_segmented(
            u,
            "snap",
            out_col="m",
            keys=("symbol",),
            order_col=["t", "tag", "raw_nonce"],
        ).select("symbol", "t", "tag", "m")
    else:
        w = (
            Window.partitionBy("symbol")
            .orderBy("t", "tag", "raw_nonce")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        merged = u.select(
            "symbol",
            "t",
            "tag",
            F.last("snap", ignorenulls=True).over(w).alias("m"),
        )
    return merged.filter(
        (F.col("tag") == 1) & F.col("m").isNotNull()
    ).select(
        "symbol",
        F.col("t").alias("tick_ms"),
        F.col("m.src_ts").alias("src_ts_ms"),
        F.col("m.mid").alias("mid"),
        (F.col("t") - F.col("m.src_ts")).alias("staleness_ms"),
    )


@register("trade_signs_lee_ready", _TRADE_SIGNS_SQL)
def q_trade_signs_lee_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-Ready (1991) trade-sign classification over the synthetic
    tape: quote rule against the prevailing mid, tick rule at the
    midpoint (sign of the last price change, carried across zero-ticks
    by a running last-non-null window — one instrument-keyed window
    pass, no joins). The tape's deterministic offsets land prints above,
    below, AND exactly on the mid, so every branch is exercised; price
    arithmetic is bit-exact cross-engine (integer modulus + IEEE-754)."""
    tape = synthetic_trades(spark, sf_dir)
    out = T.classify_lee_ready(
        tape, KEYS, ORDER_COLS,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    )
    return out.select(
        *IDS, F.round("price", 6).alias("price"), "qty", "side"
    )


@register("trade_vpin", _VPIN_SQL)
def q_trade_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (Easley, Lopez de Prado & O'Hara 2012): volume-synchronized
    buckets of 50 units, per-bucket |buy - sell| / total order-flow
    imbalance from Lee-Ready-signed trades. One instrument-keyed window
    (cumulative volume -> bucket id) then a partial-aggregating groupBy
    on the same keys — co-partitioned shuffles, O(1) state per row.
    Trade sizes are exact binary fractions, so the cumulative and
    per-bucket sums are order-free exact: no rounding needed."""
    tape = synthetic_trades(spark, sf_dir)
    seg = W.use_segmented(book_rows_per_key(sf_dir))
    classified = T.classify_lee_ready(tape, KEYS, ORDER_COLS, segmented=seg)
    return T.vpin(classified, 50.0, KEYS, ORDER_COLS, segmented=seg)


_KYLE_SQL = f"""{_CLASSIFIED_CTE},
staged AS (
  SELECT exchange_id, symbol,
    mid - LAG(mid) OVER ({_W}) AS dmid,
    CAST(side AS DOUBLE) * qty AS svol
  FROM classified
)
SELECT exchange_id, symbol,
  ROUND(COVAR_SAMP(dmid, svol) / VAR_SAMP(svol), 6) AS kyle_lambda,
  COUNT(*) AS n_ticks
FROM staged WHERE dmid IS NOT NULL GROUP BY exchange_id, symbol
"""


@register("trade_kyle_lambda", _KYLE_SQL)
def q_trade_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle (1985) price-impact lambda per instrument: OLS slope of the
    tick-to-tick mid change on Lee-Ready signed volume,
    Cov(dmid, side*qty) / Var(side*qty). Same two-stage shape as
    book_roll_amihud (one keyed window, then a groupBy partial-agg on
    the identical keys); the moment reductions are order-sensitive float
    sums -> 6-dp rounding per the repo determinism idiom."""
    tape = synthetic_trades(spark, sf_dir)
    seg = W.use_segmented(book_rows_per_key(sf_dir))
    classified = T.classify_lee_ready(tape, KEYS, ORDER_COLS, segmented=seg)
    return T.kyle_lambda(classified, KEYS, ORDER_COLS, segmented=seg)


_EFF_SPREAD_SQL = f"""{_CLASSIFIED_CTE},
staged AS (
  SELECT exchange_id, symbol,
    CASE WHEN side <> 0
         THEN {q2k_sql("2.0 * CAST(side AS DOUBLE) * (price - mid)", 26)}
    END AS eff,
    CASE WHEN side <> 0
         THEN {q2k_sql(f"2.0 * CAST(side AS DOUBLE) * (price - LEAD(mid, 20) OVER ({_W}))", 26)}
    END AS rlz
  FROM classified
)
SELECT exchange_id, symbol,
  ROUND(AVG(eff), 6) AS avg_effective_spread,
  ROUND(AVG(rlz), 6) AS avg_realized_spread,
  ROUND(AVG(eff - rlz), 6) AS avg_price_impact,
  COUNT(rlz) AS n_classified_with_future
FROM staged GROUP BY exchange_id, symbol
"""


@register("trade_effective_spread", _EFF_SPREAD_SQL)
def q_trade_effective_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average effective spread 2*side*(p - mid), realized spread
    2*side*(p - mid 20 trades ahead), and permanent price impact (their
    difference) per instrument — the SEC Rule 605-style decomposition.
    Unclassified (side 0) prints are excluded from all three averages
    (a zero term would bias the mean toward zero); tape-end trades with
    no 20-ahead mid drop from the realized/impact averages only. One
    keyed window for the future mid, then a groupBy on the same keys;
    per-trade spreads quantized to 2^-26 multiples so the means are
    exact in any accumulation order (ADVICE r7), 6-dp output rounding
    kept for presentation."""
    tape = synthetic_trades(spark, sf_dir)
    seg = W.use_segmented(book_rows_per_key(sf_dir))
    classified = T.classify_lee_ready(tape, KEYS, ORDER_COLS, segmented=seg)
    return T.effective_realized_spread(
        classified, 20, KEYS, ORDER_COLS, segmented=seg
    )


_BIPOWER_SQL = f"""{_BOOK_CTE},
rets AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
    LN(((best_bid + best_ask) / 2.0)
       / (LAG((best_bid + best_ask) / 2.0) OVER ({_W}))) AS r
  FROM book
),
paired AS (
  SELECT exchange_id, symbol, r,
    LAG(ABS(r)) OVER ({_W}) AS abs_r_prev
  FROM rets
)
SELECT exchange_id, symbol,
  ROUND(SUM(r * r), 6) AS realized_var,
  ROUND(1.5707963267948966 * SUM(ABS(r) * abs_r_prev), 6) AS bipower_var,
  ROUND(GREATEST(0.0,
    1.0 - (1.5707963267948966 * SUM(ABS(r) * abs_r_prev)) / SUM(r * r)
  ), 6) AS jump_frac,
  COUNT(r) AS n_returns
FROM paired GROUP BY exchange_id, symbol
"""


@register("book_bipower_jump", _BIPOWER_SQL)
def q_book_bipower_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jump-robust volatility decomposition per instrument: realized
    variance sum(r^2) vs. Barndorff-Nielsen & Shephard (2004) bipower
    variation (pi/2) * sum(|r_t| |r_{t-1}|) — BV converges to the
    continuous (diffusive) variance while RV includes jumps, so
    max(0, 1 - BV/RV) is the jump fraction of total variance. Two
    stacked instrument-keyed windows (return, then lagged |return|) and
    one groupBy on the same keys — the shuffles co-partition. SUM skips
    NULL terms identically in both engines (first return, first pair),
    so the estimators run over the same samples; order-sensitive float
    sums round at 6 dp."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # chained lag-1 stages (return, then lagged |return|) -> total
    # lookback 3; size-dispatched plain <-> chunk+halo (wscale audit)
    paired = W.series_stages(
        book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
        lambda w: [
            {"r": F.log(mid / F.lag(mid).over(w))},
            {"abs_r_prev": F.lag(F.abs(F.col("r"))).over(w)},
        ],
        window=3,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )
    half_pi = F.lit(1.5707963267948966)
    bv = half_pi * F.sum(F.abs(F.col("r")) * F.col("abs_r_prev"))
    rv = F.sum(F.col("r") * F.col("r"))
    return paired.groupBy(*KEYS).agg(
        F.round(rv, 6).alias("realized_var"),
        F.round(bv, 6).alias("bipower_var"),
        F.round(F.greatest(F.lit(0.0), F.lit(1.0) - bv / rv), 6).alias(
            "jump_frac"
        ),
        F.count("r").alias("n_returns"),
    )


_HY_SQL = f"""{_BOOK_CTE},
ivl AS (
  SELECT exchange_id, symbol,
    LAG(ts_ms) OVER ({_W}) AS s,
    ts_ms AS e,
    LN(((best_bid + best_ask) / 2.0)
       / (LAG((best_bid + best_ask) / 2.0) OVER ({_W}))) AS r
  FROM book
),
ticks AS (
  SELECT * FROM ivl WHERE s IS NOT NULL AND e > s
)
SELECT a.exchange_id AS exchange_id,
       a.symbol AS sym_a, b.symbol AS sym_b,
       ROUND(SUM(a.r * b.r), 6) AS hy_cov,
       COUNT(*) AS n_overlaps
FROM ticks a JOIN ticks b
  ON a.exchange_id = b.exchange_id
 AND a.symbol < b.symbol
 AND a.s < b.e AND b.s < a.e
GROUP BY a.exchange_id, a.symbol, b.symbol
"""


@register("book_hayashi_yoshida", _HY_SQL)
def q_book_hayashi_yoshida(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hayashi-Yoshida (2005) asynchronous cross-covariance for every
    instrument pair: sum of return products over OVERLAPPING tick
    intervals — the estimator that needs no resampling grid and is
    unbiased under non-synchronous trading (where naive synchronized
    covariance suffers the Epps effect).

    Scale shape: tick intervals are SORTED streams (strictly increasing
    starts and ends per instrument), so the overlap join runs as the
    merge-based
    operators/rangejoin.py::sorted_interval_overlap_pairs — each A
    interval's overlapping B intervals form one contiguous index range
    [lo, hi], both bounds computed by merged ordered counting passes,
    and the pair fan-out is EXACTLY the true overlap count. No bin-width
    parameter exists to mistune: the bucketized interval_overlap_join
    needs a bin simultaneously >= most interval widths and <= the local
    tick spacing, which a bursty tape (hairline intervals in packs
    between huge gaps — the 10x/100x ts-shifted probe corpus) makes
    impossible at ANY width (measured: quantile-tuned bins OOM at 100x
    density; this shape runs). A naive `a.s < b.e AND b.s < a.e` join
    would plan as a nested loop — the plan that dies at scale. The
    symbol-pair roles come from a broadcast pair list (config-sized).
    Zero-width intervals (duplicate ts_ms) match nothing on the
    half-open overlap and drop on both engines; the return-product sum
    rounds at 6 dp (order-sensitive float reduction)."""
    from market_microstructure_toolkit_spark.operators.rangejoin import (
        sorted_interval_overlap_pairs,
    )

    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # one lag-1 stage (interval start + return); size-dispatched
    ivl = (
        W.series_stages(
            book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
            lambda w: {
                "s": F.lag("ts_ms").over(w),
                "r": F.log(mid / F.lag(mid).over(w)),
            },
            window=2,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(*KEYS, "s", F.col("ts_ms").alias("e"), "r")
        .filter(F.col("s").isNotNull() & (F.col("e") > F.col("s")))
    )
    # Symbol roster from the raw user_id column, not from ivl: distinct
    # over ivl re-evaluated the lag-window pass (the filter on s/e keeps
    # the WindowExec alive under column pruning) just to list symbols.
    # A symbol in book but absent from ivl (no valid interval) yields
    # zero a/b rows and therefore zero output rows, so the pair list
    # built from this superset produces an identical result — for a
    # metadata-cheap column pull instead of a full window pass
    # (round 13, guide §1.2; see _book_symbols).
    syms = _book_symbols(spark, sf_dir)
    pair_list = [(x, y) for x in syms for y in syms if x < y]
    pair_df = spark.createDataFrame(pair_list, "sym_a string, sym_b string")
    a = ivl.join(
        F.broadcast(pair_df), ivl.symbol == pair_df.sym_a
    ).select(
        "exchange_id",
        "sym_a",
        "sym_b",
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
        F.col("r").alias("r_a"),
    )
    b = ivl.join(
        F.broadcast(pair_df), ivl.symbol == pair_df.sym_b
    ).select(
        "exchange_id",
        "sym_a",
        "sym_b",
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
        F.col("r").alias("r_b"),
    )
    pairs = sorted_interval_overlap_pairs(
        a,
        b,
        ("exchange_id", "sym_a", "sym_b"),
        "s_a",
        "e_a",
        "s_b",
        "e_b",
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    )
    return pairs.groupBy("exchange_id", "sym_a", "sym_b").agg(
        F.round(F.sum(F.col("r_a") * F.col("r_b")), 6).alias("hy_cov"),
        F.count(F.lit(1)).alias("n_overlaps"),
    )


_PSEUDONYMIZE_SQL = """
SELECT c_custkey,
  md5(CAST(c_name AS VARCHAR) || ':gate-salt') AS pseudonym,
  regexp_replace(c_name, '\\d+', '<NUM>', 'g') AS redacted_name,
  CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acctbal_band,
  c_mktsegment
FROM customer
"""


@register("customer_pseudonymize", _PSEUDONYMIZE_SQL)
def q_customer_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII hygiene over the customer dimension (operators/pii.py): the
    stable natural key becomes a salted md5 surrogate (deterministic, so
    joins across pseudonymized tables still line up), digit runs in the
    display name are regex-redacted, and the account balance is
    generalized to k-anonymity-style 1000-unit bands. Pure map-side
    expression work — codegen, no shuffle, no UDFs; the fixture's names
    carry real digit runs, so the redaction provably fires (pinned by a
    unit test counting distinct redacted forms)."""
    from market_microstructure_toolkit_spark.operators.pii import (
        generalize_band,
        pseudonymize,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = pseudonymize(cust, "c_name", salt="gate-salt")
    return out.select(
        "c_custkey",
        "pseudonym",
        F.regexp_replace(F.col("c_name"), r"\d+", "<NUM>").alias(
            "redacted_name"
        ),
        generalize_band("c_acctbal", 1000.0).alias("acctbal_band"),
        "c_mktsegment",
    )


_MRR_SQL = f"""{_CLASSIFIED_CTE},
staged AS (
  SELECT exchange_id, symbol,
    price - LAG(price) OVER ({_W}) AS dp,
    CAST(side AS DOUBLE) AS x,
    CAST(LAG(side) OVER ({_W}) AS DOUBLE) AS xl
  FROM classified
),
sample AS (
  SELECT * FROM staged WHERE dp IS NOT NULL AND xl IS NOT NULL
),
moments AS (
  SELECT exchange_id, symbol,
    VAR_SAMP(x) AS sxx, VAR_SAMP(xl) AS sll, COVAR_SAMP(x, xl) AS sxl,
    COVAR_SAMP(dp, x) AS syx, COVAR_SAMP(dp, xl) AS syl,
    CORR(x, xl) AS rho,
    COUNT(*) AS n_obs
  FROM sample GROUP BY exchange_id, symbol
)
SELECT exchange_id, symbol,
  ROUND((syx * sll - syl * sxl) / (sxx * sll - sxl * sxl), 6) AS coef_x,
  ROUND((syl * sxx - syx * sxl) / (sxx * sll - sxl * sxl), 6) AS coef_xlag,
  ROUND(rho, 6) AS sign_autocorr,
  ROUND((((syx * sll - syl * sxl) / (sxx * sll - sxl * sxl))
       + ((syl * sxx - syx * sxl) / (sxx * sll - sxl * sxl))) / (1.0 - rho),
       6) AS theta_adverse_selection,
  n_obs
FROM moments
"""


@register("trade_mrr_decomposition", _MRR_SQL)
def q_trade_mrr_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Madhavan-Richardson-Roomans (1997) structural spread
    decomposition per instrument, fitted WITHOUT any ML library: the
    two-regressor OLS  dp_t = a*x_t + b*x_{t-1} + e  (x = Lee-Ready
    sign) is solved in closed form from its normal equations, every term
    a plain covariance/variance aggregate — Cramer's rule over
    {Var(x), Var(x_lag), Cov(x,x_lag), Cov(dp,x), Cov(dp,x_lag)}. With
    sign autocorrelation rho, MRR's adverse-selection component is
    theta = (a + b) / (1 - rho). One instrument-keyed window for the
    lags, one groupBy for the moments — two co-partitioned stages, the
    same shape at 4 symbols or 4 million. Moment sums are
    order-sensitive -> 6-dp rounding; both engines restrict to the
    common non-null sample (first two prints per instrument drop)."""
    tape = synthetic_trades(spark, sf_dir)
    classified = T.classify_lee_ready(
        tape, KEYS, ORDER_COLS,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    )
    # lag-1 of price and sign in one stage; size-dispatched (the
    # classify carry above already dispatches on the same predicate)
    staged = (
        W.series_stages(
            classified.select(*KEYS, *ORDER_COLS, "price", "side"),
            lambda w: {
                "dp": F.col("price") - F.lag("price").over(w),
                "xl": F.lag(F.col("side").cast("double")).over(w),
            },
            window=2,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(*KEYS, "dp", F.col("side").cast("double").alias("x"), "xl")
        .filter(F.col("dp").isNotNull() & F.col("xl").isNotNull())
    )
    m = staged.groupBy(*KEYS).agg(
        F.var_samp("x").alias("sxx"),
        F.var_samp("xl").alias("sll"),
        F.covar_samp("x", "xl").alias("sxl"),
        F.covar_samp("dp", "x").alias("syx"),
        F.covar_samp("dp", "xl").alias("syl"),
        F.corr("x", "xl").alias("rho"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    det = F.col("sxx") * F.col("sll") - F.col("sxl") * F.col("sxl")
    a = (F.col("syx") * F.col("sll") - F.col("syl") * F.col("sxl")) / det
    b = (F.col("syl") * F.col("sxx") - F.col("syx") * F.col("sxl")) / det
    return m.select(
        *KEYS,
        F.round(a, 6).alias("coef_x"),
        F.round(b, 6).alias("coef_xlag"),
        F.round("rho", 6).alias("sign_autocorr"),
        F.round((a + b) / (F.lit(1.0) - F.col("rho")), 6).alias(
            "theta_adverse_selection"
        ),
        "n_obs",
    )


_L1_EVENTS_SQL = f"""{_BOOK_CTE},
lagged AS (
  SELECT exchange_id, symbol,
    best_bid, best_ask, bid1_size, ask1_size,
    LAG(best_bid) OVER ({_W}) AS pb,
    LAG(best_ask) OVER ({_W}) AS pa,
    LAG(bid1_size) OVER ({_W}) AS pbs,
    LAG(ask1_size) OVER ({_W}) AS pas
  FROM book
),
events_cls AS (
  SELECT exchange_id, symbol,
    CASE WHEN pb IS NULL THEN 'first'
         WHEN best_bid > pb THEN 'bid_improve'
         WHEN best_bid < pb THEN 'bid_worsen'
         WHEN bid1_size IS NOT NULL AND pbs IS NOT NULL
              AND bid1_size > pbs THEN 'bid_deepen'
         WHEN bid1_size IS NOT NULL AND pbs IS NOT NULL
              AND bid1_size < pbs THEN 'bid_thin'
         ELSE 'bid_unchanged' END AS bid_event,
    CASE WHEN pa IS NULL THEN 'first'
         WHEN best_ask < pa THEN 'ask_improve'
         WHEN best_ask > pa THEN 'ask_worsen'
         WHEN ask1_size IS NOT NULL AND pas IS NOT NULL
              AND ask1_size > pas THEN 'ask_deepen'
         WHEN ask1_size IS NOT NULL AND pas IS NOT NULL
              AND ask1_size < pas THEN 'ask_thin'
         ELSE 'ask_unchanged' END AS ask_event
  FROM lagged
)
SELECT exchange_id, symbol, bid_event, ask_event,
       COUNT(*) AS n_ticks
FROM events_cls GROUP BY exchange_id, symbol, bid_event, ask_event
"""


@register("book_l1_event_inference", _L1_EVENTS_SQL)
def q_book_l1_event_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-book event-type inference from consecutive L1 snapshots —
    the LOBSTER-style classification a snapshot recorder needs because
    it never sees the raw add/cancel/trade feed: per side, each tick is
    an improve (better price), worsen (worse price), deepen/thin (same
    price, more/less size), or unchanged, summarized as a per-instrument
    event-mix table. Price moves dominate size moves in the hierarchy
    (a price change re-anchors the queue, so same-level size comparison
    is only meaningful at an unchanged price). Pure lag-compare on ONE
    instrument-keyed window + a groupBy on the same keys; comparisons
    are exact (bit-identical derivation both engines), so no rounding is
    needed anywhere."""
    book = synthetic_book(spark, sf_dir)
    # four lag-1 columns in one stage; size-dispatched (wscale audit)
    lagged = W.series_stages(
        book.select(
            *KEYS, *ORDER_COLS,
            "best_bid", "best_ask", "bid1_size", "ask1_size",
        ),
        lambda w: {
            "pb": F.lag("best_bid").over(w),
            "pa": F.lag("best_ask").over(w),
            "pbs": F.lag("bid1_size").over(w),
            "pas": F.lag("ask1_size").over(w),
        },
        window=2,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )

    def side_event(price, pprice, size, psize, better, prefix):
        sz_ok = F.col(size).isNotNull() & F.col(psize).isNotNull()
        return (
            F.when(F.col(pprice).isNull(), F.lit("first"))
            .when(better, F.lit(f"{prefix}_improve"))
            .when(
                (F.col(price) != F.col(pprice)), F.lit(f"{prefix}_worsen")
            )
            .when(sz_ok & (F.col(size) > F.col(psize)), F.lit(f"{prefix}_deepen"))
            .when(sz_ok & (F.col(size) < F.col(psize)), F.lit(f"{prefix}_thin"))
            .otherwise(F.lit(f"{prefix}_unchanged"))
        )

    cls = lagged.select(
        *KEYS,
        side_event(
            "best_bid", "pb", "bid1_size", "pbs",
            F.col("best_bid") > F.col("pb"), "bid",
        ).alias("bid_event"),
        side_event(
            "best_ask", "pa", "ask1_size", "pas",
            F.col("best_ask") < F.col("pa"), "ask",
        ).alias("ask_event"),
    )
    return cls.groupBy(*KEYS, "bid_event", "ask_event").agg(
        F.count(F.lit(1)).alias("n_ticks")
    )


def _vwap_multi_sql() -> str:
    """Grouped X4 oracle: per instrument, walk that series' first
    snapshot for the whole qty; slippage vs that series' own first/last
    mids (naive X3/X4 convention), one row per instrument."""
    w = _walk_exprs("25.0", BOOK_DEPTH)
    return f"""{_BOOK_CTE},
frst AS (
  SELECT * FROM book
  QUALIFY row_number() OVER (PARTITION BY exchange_id, symbol
                             ORDER BY ts_ms, raw_nonce) = 1
),
lst AS (
  SELECT exchange_id, symbol, (best_bid + best_ask) / 2.0 AS mid_close
  FROM book
  QUALIFY row_number() OVER (PARTITION BY exchange_id, symbol
                             ORDER BY ts_ms DESC, raw_nonce DESC) = 1
),
w AS (
  SELECT exchange_id, symbol,
         (best_bid + best_ask) / 2.0 AS mid_open,
         {w['filled']} AS filled,
         {w['cost']} AS cost,
         {w['touched']} AS touched
  FROM frst
)
SELECT w.exchange_id, w.symbol,
  'buy' AS side,
  25.0 AS target_qty,
  COALESCE(filled, 0.0) AS filled_qty,
  CASE WHEN filled > 0 THEN cost / filled END AS vwap,
  COALESCE(cost, 0.0) AS notional,
  CASE WHEN filled > 0 AND mid_open <> 0
       THEN 1e4 * ((cost / filled) / mid_open - 1.0)
  END AS slippage_bps_vs_mid_open,
  CASE WHEN filled > 0 AND mid_close <> 0
       THEN 1e4 * ((cost / filled) / mid_close - 1.0)
  END AS slippage_bps_vs_mid_close,
  CAST(1 AS INTEGER) AS slices,
  CAST(COALESCE(touched, 0) AS INTEGER) AS levels_touched
FROM w JOIN lst USING (exchange_id, symbol)"""


@register("vwap_multi_instrument", _vwap_multi_sql())
def q_vwap_multi_instrument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped X4 fan-out: the one-shot VWAP walk over EVERY instrument
    in one pass (operators/impact.py::simulate_vwap_onbook_grouped) —
    two instrument-keyed row_number windows (first/last rows), the
    array-fold book walk on the G first rows, a G-vs-G key join for the
    closing mid. Fully distributed: no driver collect, parallelism grows
    with instrument count. Per-series rows are identical to the
    single-series simulator's (pinned in tests/test_impact.py)."""
    from market_microstructure_toolkit_spark.operators.impact import (
        simulate_vwap_onbook_grouped,
    )

    book = synthetic_book(spark, sf_dir)
    return simulate_vwap_onbook_grouped(book, "buy", 25.0, BOOK_DEPTH)


_CROSS_ASOF_SQL = f"""{_BOOK_CTE},
s0 AS (
  SELECT exchange_id, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS ref_mid
  FROM book WHERE symbol = 'S0'
),
s1 AS (
  SELECT exchange_id, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS own_mid
  FROM book WHERE symbol = 'S1'
),
merged AS (
  SELECT exchange_id, ts_ms, 0 AS tag, raw_nonce AS ord,
         ts_ms AS src_ts, ref_mid,
         CAST(NULL AS BIGINT) AS tgt_nonce, CAST(NULL AS DOUBLE) AS own_mid
  FROM s0
  UNION ALL
  SELECT exchange_id, ts_ms, 1, NULL, NULL, NULL, raw_nonce, own_mid
  FROM s1
),
filled AS (
  -- ATOMIC struct carry (one LAST_VALUE over the whole matched row,
  -- not one per column): a NULL ref_mid on the matched snapshot must
  -- surface as NULL, never back-fill from an older snapshot.
  SELECT exchange_id, ts_ms, tag, tgt_nonce, own_mid,
    LAST_VALUE(CASE WHEN tag = 0
                    THEN struct_pack(src_ts := src_ts, ref_mid := ref_mid)
               END IGNORE NULLS) OVER
      (PARTITION BY exchange_id ORDER BY ts_ms, tag, ord
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM merged
)
SELECT exchange_id, tgt_nonce AS raw_nonce, ts_ms,
       struct_extract(m, 'src_ts') AS src_ts_ms,
       ts_ms - struct_extract(m, 'src_ts') AS staleness_ms,
       own_mid, struct_extract(m, 'ref_mid') AS ref_mid,
       own_mid / struct_extract(m, 'ref_mid') AS mid_ratio
FROM filled WHERE tag = 1 AND struct_extract(m, 'src_ts') IS NOT NULL
"""


@register("book_cross_asset_align", _CROSS_ASOF_SQL)
def q_book_cross_asset_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-asset backward as-of WITHOUT broadcasting either side: each
    S1 tick carries the last S0 mid at-or-before it (the alignment a
    pairs/lead-lag model starts from). `asof_nearest` broadcasts its
    target side — right for schedule-sized targets, wrong when BOTH
    sides are full tapes — so this rides
    operators/asof.py::asof_backward_union: tag both streams, UNION, one
    exchange-keyed ordered window carrying the last non-null snapshot
    values forward. One shuffle total, no join operator in the plan at
    all; tie rules (same-ts snapshot counts; duplicate-ts snapshots
    resolve to highest nonce) match DuckDB's window twin exactly. Mids
    ride bit-exact; the ratio is one division — no rounding anywhere."""
    from market_microstructure_toolkit_spark.operators.asof import (
        asof_backward_union,
    )

    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    s0 = book.filter(F.col("symbol") == "S0").select(
        "exchange_id", "ts_ms", "raw_nonce", mid.alias("ref_mid")
    )
    s1 = book.filter(F.col("symbol") == "S1").select(
        "exchange_id",
        "ts_ms",
        F.col("raw_nonce").alias("tgt_nonce"),
        mid.alias("own_mid"),
    )
    aligned = asof_backward_union(
        s0,
        s1,
        keys=("exchange_id",),
        ts_col="ts_ms",
        value_cols=("ref_mid",),
        target_ts_col="ts_ms",
        snapshot_order_col="raw_nonce",
        target_payload_cols=("tgt_nonce", "own_mid"),
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    )
    return aligned.filter(F.col("src_ts_ms").isNotNull()).select(
        "exchange_id",
        F.col("tgt_nonce").alias("raw_nonce"),
        "ts_ms",
        "src_ts_ms",
        (F.col("ts_ms") - F.col("src_ts_ms")).alias("staleness_ms"),
        "own_mid",
        "ref_mid",
        (F.col("own_mid") / F.col("ref_mid")).alias("mid_ratio"),
    )


_ACF_SQL = f"""{_BOOK_CTE},
rets AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
    LN(((best_bid + best_ask) / 2.0)
       / (LAG((best_bid + best_ask) / 2.0) OVER ({_W}))) AS r
  FROM book
),
lagged AS (
  SELECT exchange_id, symbol, r,
    LAG(r, 1) OVER ({_W}) AS r1,
    LAG(r, 2) OVER ({_W}) AS r2,
    LAG(r, 3) OVER ({_W}) AS r3,
    LAG(r, 4) OVER ({_W}) AS r4,
    LAG(r, 5) OVER ({_W}) AS r5
  FROM rets
)
SELECT exchange_id, symbol, lag,
       ROUND(acf, 6) AS acf, n_pairs
FROM (
  SELECT exchange_id, symbol, 1 AS lag, CORR(r, r1) AS acf,
         COUNT(CASE WHEN r IS NOT NULL AND r1 IS NOT NULL THEN 1 END) AS n_pairs
  FROM lagged GROUP BY exchange_id, symbol
  UNION ALL
  SELECT exchange_id, symbol, 2, CORR(r, r2),
         COUNT(CASE WHEN r IS NOT NULL AND r2 IS NOT NULL THEN 1 END)
  FROM lagged GROUP BY exchange_id, symbol
  UNION ALL
  SELECT exchange_id, symbol, 3, CORR(r, r3),
         COUNT(CASE WHEN r IS NOT NULL AND r3 IS NOT NULL THEN 1 END)
  FROM lagged GROUP BY exchange_id, symbol
  UNION ALL
  SELECT exchange_id, symbol, 4, CORR(r, r4),
         COUNT(CASE WHEN r IS NOT NULL AND r4 IS NOT NULL THEN 1 END)
  FROM lagged GROUP BY exchange_id, symbol
  UNION ALL
  SELECT exchange_id, symbol, 5, CORR(r, r5),
         COUNT(CASE WHEN r IS NOT NULL AND r5 IS NOT NULL THEN 1 END)
  FROM lagged GROUP BY exchange_id, symbol
)
"""


@register("book_return_acf", _ACF_SQL)
def q_book_return_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return autocorrelation function, lags 1-5, per instrument — the
    classic microstructure diagnostic (bid-ask bounce shows up as
    negative lag-1 ACF; Roll's estimator is built on exactly that
    moment). ONE window pass materializes all five lagged columns (the
    five lags share the instrument-keyed sort), then one groupBy
    computes five CORR aggregates that unpivot to (lag, acf) rows via
    an in-plan stack — no re-scan per lag, no second shuffle. CORR is an
    order-sensitive moment -> 6-dp rounding."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    if W.use_segmented(book_rows_per_key(sf_dir)):
        # chunk+halo path (round-9 window audit): the return lag plus
        # lags 1..5 of it are two chained bounded stages, total
        # lookback 1 + 5 (+1) = 7 — one instrument's history fans out
        # instead of serializing; the moment groupBy is unchanged
        lagged = W.rolling_segmented(
            book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
            lambda w: [
                {"r": F.log(mid / F.lag(mid).over(w))},
                {
                    f"r{k}": F.lag("r", k).over(w)
                    for k in range(1, 6)
                },
            ],
            window=7,
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
    else:
        w = Window.partitionBy(*KEYS).orderBy(*ORDER_COLS)
        rets = book.select(
            *KEYS, *ORDER_COLS, F.log(mid / F.lag(mid).over(w)).alias("r")
        )
        lagged = rets.select(
            *KEYS,
            "r",
            *[F.lag("r", k).over(w).alias(f"r{k}") for k in range(1, 6)],
        )
    agg = lagged.groupBy(*KEYS).agg(
        *[F.corr("r", f"r{k}").alias(f"acf{k}") for k in range(1, 6)],
        *[
            F.count(
                F.when(F.col("r").isNotNull() & F.col(f"r{k}").isNotNull(), 1)
            ).alias(f"n{k}")
            for k in range(1, 6)
        ],
    )
    stacked = agg.select(
        *KEYS,
        F.expr(
            "stack(5, "
            + ", ".join(f"{k}, acf{k}, n{k}" for k in range(1, 6))
            + ") AS (lag, acf, n_pairs)"
        ),
    )
    return stacked.select(
        *KEYS,
        "lag",
        F.round("acf", 6).alias("acf"),
        "n_pairs",
    )


_SEASONALITY_SQL = f"""{_BOOK_CTE},
rets AS (
  SELECT exchange_id, symbol, ts_ms,
    LN(((best_bid + best_ask) / 2.0)
       / (LAG((best_bid + best_ask) / 2.0) OVER ({_W}))) AS r
  FROM book
)
SELECT exchange_id, symbol,
       CAST((ts_ms // 3600000) % 24 AS BIGINT) AS hour_utc,
       ROUND(AVG({q2k_sql("ABS(r)", 36)}) * 1e4, 6) AS avg_abs_ret_bps,
       COUNT(r) AS n_returns
FROM rets GROUP BY exchange_id, symbol, (ts_ms // 3600000) % 24
"""


@register("book_intraday_seasonality", _SEASONALITY_SQL)
def q_book_intraday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday volatility seasonality: mean |log return| (bps) per
    instrument per UTC hour-of-day, aggregated across all days — the
    U-shaped activity profile every execution scheduler calibrates
    against. One keyed window for returns, then a partial-aggregating
    groupBy on (instrument, hour): 24 uniform buckets per instrument,
    no skew. Summands quantized to 2^-36 multiples before the AVG so the
    sum is exact in any accumulation order (ADVICE r7 — a raw
    ROUND(AVG(double), 6) is partition-count-sensitive)."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # one lag-1 return stage; size-dispatched (wscale audit)
    rets = W.series_stages(
        book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
        lambda w: {"r": F.log(mid / F.lag(mid).over(w))},
        window=2,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )
    hour = ((F.col("ts_ms") / F.lit(3600000)).cast("long") % 24).alias(
        "hour_utc"
    )
    return rets.groupBy(*KEYS, hour).agg(
        F.round(
            F.avg(q2k_col(F.abs(F.col("r")), 36)) * F.lit(1e4), 6
        ).alias("avg_abs_ret_bps"),
        F.count("r").alias("n_returns"),
    )


_RCOV_SQL = f"""{_BOOK_CTE},
rng AS (
  SELECT exchange_id, MIN(ts_ms) AS a, MAX(ts_ms) AS b
  FROM book GROUP BY exchange_id
),
grid AS (
  SELECT exchange_id,
         unnest(range(a, b + 1, GREATEST((b - a) // 500, 1))) AS t
  FROM rng
),
syms AS (SELECT DISTINCT exchange_id, symbol FROM book),
symgrid AS (
  SELECT s.exchange_id, s.symbol, g.t
  FROM grid g JOIN syms s USING (exchange_id)
),
merged AS (
  SELECT exchange_id, symbol, ts_ms AS t, 0 AS tag, raw_nonce AS ord,
         (best_bid + best_ask) / 2.0 AS mid
  FROM book
  UNION ALL
  SELECT exchange_id, symbol, t, 1, NULL, NULL FROM symgrid
),
filled AS (
  SELECT exchange_id, symbol, t, tag,
    LAST_VALUE(mid IGNORE NULLS) OVER
      (PARTITION BY exchange_id, symbol ORDER BY t, tag, ord
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid
  FROM merged
),
samples AS (
  SELECT exchange_id, symbol, t, mid
  FROM filled WHERE tag = 1 AND mid IS NOT NULL
),
srets AS (
  SELECT exchange_id, symbol, t,
    LN(mid / LAG(mid) OVER (PARTITION BY exchange_id, symbol ORDER BY t))
      AS r
  FROM samples
)
SELECT a.exchange_id AS exchange_id,
       a.symbol AS sym_a, b.symbol AS sym_b,
       ROUND(COVAR_SAMP(a.r, b.r), 10) AS rcov,
       COUNT(CASE WHEN a.r IS NOT NULL AND b.r IS NOT NULL THEN 1 END)
         AS n_grid_returns
FROM srets a JOIN srets b
  ON a.exchange_id = b.exchange_id AND a.t = b.t
 AND a.symbol <= b.symbol
GROUP BY a.exchange_id, a.symbol, b.symbol
"""


@register("book_realized_cov_matrix", _RCOV_SQL)
def q_book_realized_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronized realized covariance matrix: every instrument's mid
    sampled onto ONE common 500-point time grid per exchange (backward
    as-of via the tag+union+running-last shape — no join, no broadcast
    of data), grid log-returns per instrument, then the full
    upper-triangle covariance matrix (variances on the diagonal) from
    one equi-join on (exchange, grid tick). This is the estimator the
    Hayashi-Yoshida gate deliberately avoids (resampling loses the
    asynchronous information — Epps effect) and the pair shows both
    sides of that trade; a portfolio risk pipeline wants exactly this
    grid form. Scale: the grid is config-sized per exchange (500 ticks x
    instruments), the sampling pass is one keyed window over
    snapshots+ticks, and the pair join fans out |instruments| per grid
    row. COVAR over ~500 aligned returns rounds at 10 dp (values sit
    near 1e-8; 6 dp would round them all to zero and gate nothing)."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    rng = book.groupBy("exchange_id").agg(
        F.min("ts_ms").alias("a"), F.max("ts_ms").alias("b")
    )
    grid = rng.select(
        "exchange_id",
        F.explode(
            F.sequence(
                F.col("a"),
                F.col("b"),
                F.greatest(F.lit(1).cast("long"), F.expr("(b - a) DIV 500")),
            )
        ).alias("t"),
    )
    # config-sized instrument list from the raw user_id column pull
    # (round 13, _book_symbols — no per-invocation Spark distinct job),
    # then a map-side literal-array explode — a distinct-subquery join
    # here would plan as a keyless BNLJ after Catalyst constant-folds
    # the single exchange key away
    syms = _book_symbols(spark, sf_dir)
    symgrid = grid.select(
        "exchange_id",
        F.explode(F.array(*[F.lit(s) for s in syms])).alias("symbol"),
        "t",
    )
    snaps = book.select(
        "exchange_id",
        "symbol",
        F.col("ts_ms").alias("t"),
        F.lit(0).alias("tag"),
        F.col("raw_nonce").alias("ord"),
        mid.alias("mid"),
    )
    ticks = symgrid.select(
        "exchange_id",
        "symbol",
        "t",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("ord"),
        F.lit(None).cast("double").alias("mid"),
    )
    # running forward-fill carry over the snapshot+grid union: size-
    # dispatched to the segmented two-phase fill (the carry is
    # selection, not accumulation, so both paths are value-identical)
    merged = snaps.unionByName(ticks)
    if W.use_segmented(book_rows_per_key(sf_dir)):
        filled = W.add_running_last_segmented(
            merged,
            "mid",
            out_col="__fmid",
            keys=("exchange_id", "symbol"),
            order_col=["t", "tag", "ord"],
        ).select(
            "exchange_id", "symbol", "t", "tag",
            F.col("__fmid").alias("mid"),
        )
    else:
        w = (
            Window.partitionBy("exchange_id", "symbol")
            .orderBy("t", "tag", "ord")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = merged.select(
            "exchange_id",
            "symbol",
            "t",
            "tag",
            F.last("mid", ignorenulls=True).over(w).alias("mid"),
        )
    samples = filled.filter(
        (F.col("tag") == 1) & F.col("mid").isNotNull()
    ).select("exchange_id", "symbol", "t", "mid")
    # wscale: bounded — per-key rows here = the config-sized grid
    # (500 ticks per exchange x instruments), not data-sized
    ws = Window.partitionBy("exchange_id", "symbol").orderBy("t")
    srets = samples.select(
        "exchange_id",
        "symbol",
        "t",
        F.log(F.col("mid") / F.lag("mid").over(ws)).alias("r"),
    )
    a = srets.select(
        "exchange_id",
        F.col("symbol").alias("sym_a"),
        "t",
        F.col("r").alias("r_a"),
    )
    b = srets.select(
        "exchange_id",
        F.col("symbol").alias("sym_b"),
        "t",
        F.col("r").alias("r_b"),
    )
    pairs = a.join(b, ["exchange_id", "t"]).filter(
        F.col("sym_a") <= F.col("sym_b")
    )
    return pairs.groupBy("exchange_id", "sym_a", "sym_b").agg(
        F.round(F.covar_samp("r_a", "r_b"), 10).alias("rcov"),
        F.count(
            F.when(F.col("r_a").isNotNull() & F.col("r_b").isNotNull(), 1)
        ).alias("n_grid_returns"),
    )


@register(
    "book_orc_roundtrip",
    f"{_BOOK_CTE} SELECT book.*, CAST(NULL AS VARCHAR) AS iso FROM book",
)
def q_book_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> ORC source, hive-partitioned by symbol — the second
    columnar format behind the S6/S8 writer surface (book_io.write_book_orc).
    ORC is lossless for the book's doubles/longs/strings, so the oracle is
    the book itself: any bit flip in the format pair breaks the hash. The
    partition column round-trips through the directory encoding, proving
    partition-pruned reads work for an ORC-standardized warehouse too."""
    from market_microstructure_toolkit_spark.sources.book_io import (
        read_book_orc,
        write_book_orc,
    )

    book = synthetic_book(spark, sf_dir)
    path = _scratch(prefix="mmt_orc_rt_")
    write_book_orc(book, path, partition_by=("symbol",))
    back = read_book_orc(spark, path)
    return back.select(*book.columns).withColumn(
        "iso", F.lit(None).cast("string")
    )


_TSRV_K = 5


_TSRV_SQL = f"""{_BOOK_CTE},
rets AS (
  SELECT exchange_id, symbol,
    LN(((best_bid + best_ask) / 2.0)
       / (LAG((best_bid + best_ask) / 2.0) OVER ({_W}))) AS r1,
    LN(((best_bid + best_ask) / 2.0)
       / (LAG((best_bid + best_ask) / 2.0, {_TSRV_K}) OVER ({_W}))) AS rk
  FROM book
)
SELECT exchange_id, symbol,
  ROUND(SUM(r1 * r1), 6) AS rv_all,
  ROUND(SUM(rk * rk) / {_TSRV_K}.0, 6) AS rv_k_avg,
  ROUND(
    (SUM(rk * rk) / {_TSRV_K}.0
     - ((COUNT(r1) - {_TSRV_K} + 1.0) / {_TSRV_K}.0 / COUNT(r1)) * SUM(r1 * r1))
    / (1.0 - (COUNT(r1) - {_TSRV_K} + 1.0) / {_TSRV_K}.0 / COUNT(r1)),
  6) AS tsrv,
  COUNT(r1) AS n_returns
FROM rets GROUP BY exchange_id, symbol
"""


@register("book_tsrv", _TSRV_SQL)
def q_book_tsrv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-scale realized variance per instrument (Zhang, Mykland &
    Ait-Sahalia 2005): tick-by-tick RV is dominated by microstructure
    noise (2n x noise variance), so TSRV debiases it with the K-spaced
    scale — the average of the K offset subsample RVs is SUM(r_K^2)/K in
    one pass via LAG(mid, K) — minus (nbar/n) x RV_all, rescaled by the
    small-sample factor 1/(1 - nbar/n). The reported ``tsrv`` is the
    noise-corrected integrated variance to quote beside the raw
    ``rv_all`` (their gap estimates the noise floor itself). One keyed
    window computes both lags (1 and K) in a single pass, then one
    groupBy on the same keys — co-partitioned shuffles, no extra pass
    for the subsample grids. Order-sensitive float sums round at 6 dp
    (bipower idiom)."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    k = _TSRV_K
    if W.use_segmented(book_rows_per_key(sf_dir)):
        # chunk+halo path (round-9 window audit): both subsample lags
        # (1 and K) are one bounded stage, lookback K+1
        rets = W.rolling_segmented(
            book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
            lambda w: {
                "r1": F.log(mid / F.lag(mid).over(w)),
                "rk": F.log(mid / F.lag(mid, k).over(w)),
            },
            window=k + 1,
            keys=KEYS,
            order_col=list(ORDER_COLS),
        ).select(*KEYS, "r1", "rk")
    else:
        w = Window.partitionBy(*KEYS).orderBy(*ORDER_COLS)
        rets = book.select(
            *KEYS,
            F.log(mid / F.lag(mid).over(w)).alias("r1"),
            F.log(mid / F.lag(mid, k).over(w)).alias("rk"),
        )
    n = F.count("r1")
    rv_all = F.sum(F.col("r1") * F.col("r1"))
    rv_k_avg = F.sum(F.col("rk") * F.col("rk")) / F.lit(float(k))
    nbar_over_n = (n - k + F.lit(1.0)) / F.lit(float(k)) / n
    return rets.groupBy(*KEYS).agg(
        F.round(rv_all, 6).alias("rv_all"),
        F.round(rv_k_avg, 6).alias("rv_k_avg"),
        F.round(
            (rv_k_avg - nbar_over_n * rv_all) / (F.lit(1.0) - nbar_over_n), 6
        ).alias("tsrv"),
        n.alias("n_returns"),
    )


def _twap_almgren_sql() -> str:
    """Almgren-Chriss oracle: the front-loaded slice sizes are CONFIG
    constants (closed-form sinh/cosh of kappa and N, no data
    dependence), so — like the seeded stochastic draws — they are
    computed once driver-side (operators.impact.almgren_sizes) and
    embedded as string-quoted literals (shortest-roundtrip doubles parse
    identically in both engines). Everything data-dependent reuses the
    deterministic X5 machinery: round-half-even schedule positions,
    last-duplicate-wins row match, stop-at-first-blank walk, buy-fee
    uplift."""
    from market_microstructure_toolkit_spark.operators.impact import (
        almgren_sizes,
    )

    slices, target, kappa = 16, 40.0, 0.35
    sizes = almgren_sizes(target, slices, kappa)
    vals = ",\n    ".join(
        f"({k + 1}, CAST('{sizes[k]!r}' AS DOUBLE))" for k in range(slices)
    )
    w = _walk_exprs("slice_target_qty", BOOK_DEPTH, blank="stop")
    return f"""{_BOOK_CTE},
s0 AS (SELECT * FROM book WHERE symbol = 'S0'),
nn AS (SELECT COUNT(*) AS n FROM s0),
numbered AS (
  SELECT *, row_number() OVER (ORDER BY ts_ms, raw_nonce) - 1 AS pos FROM s0
),
sched(s, qty) AS (VALUES
    {vals}
),
sl AS (
  SELECT s, qty,
         CAST(round_even((s - 1) * (n - 1) / CAST({slices - 1} AS DOUBLE), 0) AS BIGINT) AS pos
  FROM sched, nn
),
tsz AS (SELECT sl.s, sl.qty, r.ts_ms AS target_ts FROM sl JOIN numbered r USING (pos)),
matched AS (
  SELECT t.s AS slice, t.qty AS slice_target_qty, r.*
  FROM tsz t JOIN numbered r ON r.ts_ms = t.target_ts
  QUALIFY row_number() OVER (PARTITION BY t.s ORDER BY r.raw_nonce DESC) = 1
)
SELECT CAST(slice AS INTEGER) AS slice,
  CAST(ts_ms AS BIGINT) AS ts_ms,
  '' AS iso,
  {w['filled']} AS filled_qty,
  slice_target_qty,
  CASE WHEN ({w['filled']}) > 0
       THEN GREATEST(({w['cost']}) * (1.0 + 2.0 / 1e4), 0.0) / ({w['filled']})
       ELSE CAST('nan' AS DOUBLE) END AS slice_vwap,
  {w['touched']} AS levels_touched
FROM matched"""


@register("twap_almgren_sim", _twap_almgren_sql())
def q_twap_almgren_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Almgren-Chriss optimal execution (2001) through the realistic
    TWAP simulator: schedule='almgren' front-loads the slice sizes along
    the closed-form sinh trajectory (kappa=0.35 urgency; kappa->0
    recovers the equal-slice TWAP — unit-pinned in test_impact), then
    the existing deterministic X5 path executes them (schedule
    positions, nearest-row match, stop-at-blank walk, fees). Same
    distributed shape as twap_real_equal_sim: per-slice walks fan out,
    only the O(slices) schedule is driver-side."""
    from market_microstructure_toolkit_spark.operators.impact import (
        TwapConfig,
        simulate_twap_real,
    )

    book = synthetic_book(spark, sf_dir).filter(F.col("symbol") == "S0")
    cfg = TwapConfig(
        side="buy", target_qty=40.0, slices=16, fee_bps=2.0,
        jitter_ms=0, schedule="almgren", kappa=0.35, depth_cap=BOOK_DEPTH,
    )
    # want_summary=False: per-slice gate; skip the summary agg job (r13)
    # n_rows from the arrow user_id histogram (round 13): the S0-literal
    # filter satisfies the single-series contract by construction, so
    # the count job drops; Spark fallback on None.
    _, per_slice = simulate_twap_real(
        book, cfg, want_summary=False, n_rows=book_symbol_rows(sf_dir, 0)
    )
    return per_slice


_DOLLAR_BAR_THRESHOLD = 25_000.0


_DOLLAR_BARS_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
q AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, price, qty,
         floor(price * qty * 1024.0 + 0.5) / 1024.0 AS notional_q
  FROM trades
),
cum AS (
  SELECT *,
    SUM(notional_q) OVER ({_W}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - notional_q AS prefix
  FROM q
),
bars AS (
  SELECT *, CAST(floor(prefix / {_DOLLAR_BAR_THRESHOLD}) AS BIGINT) AS bar_id
  FROM cum
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, bar_id
                       ORDER BY ts_ms, raw_nonce) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, bar_id
                       ORDER BY ts_ms DESC, raw_nonce DESC) AS rn_d
  FROM bars
)
SELECT exchange_id, symbol, bar_id,
       MAX(CASE WHEN rn_a = 1 THEN price END) AS open_px,
       MAX(price) AS high_px,
       MIN(price) AS low_px,
       MAX(CASE WHEN rn_d = 1 THEN price END) AS close_px,
       SUM(qty) AS volume,
       SUM(notional_q) AS notional,
       COUNT(*) AS n_trades
FROM ranked
GROUP BY exchange_id, symbol, bar_id
"""


@register("trade_dollar_bars", _DOLLAR_BARS_SQL)
def q_trade_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dollar bars (Lopez de Prado 2018): resample the trade tape on a
    NOTIONAL clock — a new bar every $25k traded (~26 bars per instrument at sf0.01) — instead of wall time,
    so bars carry comparable information content through bursts and
    lulls (the same argument VPIN makes for its volume clock). Per-trade
    notional quantizes to 2^-10 multiples, making the running prefix
    sum EXACT in any order (returns_rv idiom) — bar boundaries are then
    engine-identical with no rounding, and bar notionals/volumes are
    order-free exact sums.

    The notional clock runs on the SEGMENTED two-phase prefix scan
    (window_metrics.add_cumulative_segmented), not a single keyed
    running window: a keyed window is sequential per instrument, and
    the 100x probe measured exactly that wall (2.5M rows per instrument
    on one core each, 7.9x wall at 100x input). Quantized summands make
    the segmented sum bit-identical to the single-window form, so the
    oracle (plain SUM() OVER) is unchanged. Then one grouped OHLC
    rollup, co-partitioned on the instrument keys."""
    from market_microstructure_toolkit_spark.operators.window_metrics import (
        add_cumulative_segmented,
    )

    trades = synthetic_trades(spark, sf_dir)
    nq = (
        F.floor(F.col("price") * F.col("qty") * F.lit(1024.0) + F.lit(0.5))
        / F.lit(1024.0)
    )
    q = trades.withColumn("notional_q", nq)
    cum = add_cumulative_segmented(
        q,
        "notional_q",
        out_col="__cum",
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )
    bars = cum.withColumn(
        "bar_id",
        F.floor(
            (F.col("__cum") - F.col("notional_q"))
            / F.lit(_DOLLAR_BAR_THRESHOLD)
        ).cast("long"),
    ).drop("__cum")
    wa = Window.partitionBy(*KEYS, "bar_id").orderBy(*ORDER_COLS)
    wd = Window.partitionBy(*KEYS, "bar_id").orderBy(
        *[F.col(c).desc() for c in ORDER_COLS]
    )
    ranked = bars.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return ranked.groupBy(*KEYS, "bar_id").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("price"))).alias("open_px"),
        F.max("price").alias("high_px"),
        F.min("price").alias("low_px"),
        F.max(F.when(F.col("rn_d") == 1, F.col("price"))).alias("close_px"),
        F.sum("qty").alias("volume"),
        F.sum("notional_q").alias("notional"),
        F.count(F.lit(1)).alias("n_trades"),
    )


_SIG_MAX_K = 10


def _rv_signature_sql() -> str:
    lags = ",\n    ".join(
        f"LN(((best_bid + best_ask) / 2.0)"
        f" / (LAG((best_bid + best_ask) / 2.0, {k}) OVER ({_W}))) AS r{k}"
        for k in range(1, _SIG_MAX_K + 1)
    )
    sums = ",\n    ".join(
        f"SUM(r{k} * r{k}) AS s{k}, COUNT(r{k}) AS n{k}"
        for k in range(1, _SIG_MAX_K + 1)
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT exchange_id, symbol, {k} AS lag_k,"
        f" ROUND(s{k} / {k}.0, 6) AS rv_subsampled, n{k} AS n_returns FROM agg"
        for k in range(1, _SIG_MAX_K + 1)
    )
    return f"""{_BOOK_CTE},
rets AS (
  SELECT exchange_id, symbol,
    {lags}
  FROM book
),
agg AS (
  SELECT exchange_id, symbol,
    {sums}
  FROM rets GROUP BY exchange_id, symbol
)
{arms}"""


@register("book_rv_signature", _rv_signature_sql())
def q_book_rv_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility signature plot (Andersen, Bollerslev, Diebold & Labys
    2000): subsample-averaged realized variance SUM(r_k^2)/k at sampling
    intervals k = 1..10 ticks, per instrument. On a noise-free price the
    curve is flat; microstructure noise bends it upward as k -> 1 (RV
    picks up 2n x noise variance), so where the curve flattens is the
    sampling frequency at which RV becomes trustworthy — the diagnostic
    that motivates TSRV's two-scale correction. All 10 lagged returns
    ride ONE keyed window pass (no per-k rescan), one groupBy computes
    the 10 sums, and the k-arms unpivot in-plan from the single agg row
    per instrument. Order-sensitive sums round at 6 dp."""
    book = synthetic_book(spark, sf_dir)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # one stage with lags 1..10 -> total lookback 11; size-dispatched
    rets = W.series_stages(
        book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
        lambda w: {
            f"r{k}": F.log(mid / F.lag(mid, k).over(w))
            for k in range(1, _SIG_MAX_K + 1)
        },
        window=_SIG_MAX_K + 1,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )
    agg = rets.groupBy(*KEYS).agg(
        *[
            a
            for k in range(1, _SIG_MAX_K + 1)
            for a in (
                F.sum(F.col(f"r{k}") * F.col(f"r{k}")).alias(f"s{k}"),
                F.count(f"r{k}").alias(f"n{k}"),
            )
        ]
    )
    armed = agg.select(
        *KEYS,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag_k"),
                        F.round(F.col(f"s{k}") / F.lit(float(k)), 6).alias(
                            "rv_subsampled"
                        ),
                        F.col(f"n{k}").alias("n_returns"),
                    )
                    for k in range(1, _SIG_MAX_K + 1)
                ]
            )
        ).alias("a"),
    )
    return armed.select(*KEYS, "a.lag_k", "a.rv_subsampled", "a.n_returns")


_CS_SQL = f"""WITH ohlc AS ({_OHLC_SQL}),
paired AS (
  SELECT exchange_id, symbol,
    LN(high_mid / low_mid) * LN(high_mid / low_mid)
      + LN(LAG(high_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms)
            / LAG(low_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms))
        * LN(LAG(high_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms)
            / LAG(low_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms))
      AS beta,
    LN(GREATEST(high_mid, LAG(high_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms))
       / LEAST(low_mid, LAG(low_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms)))
      * LN(GREATEST(high_mid, LAG(high_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms))
       / LEAST(low_mid, LAG(low_mid) OVER (PARTITION BY exchange_id, symbol ORDER BY bucket_ms)))
      AS gamma
  FROM ohlc
),
alphas AS (
  SELECT exchange_id, symbol,
    (SQRT(2.0 * beta) - SQRT(beta)) / (3.0 - 2.0 * SQRT(2.0))
      - SQRT(gamma / (3.0 - 2.0 * SQRT(2.0))) AS alpha
  FROM paired WHERE beta IS NOT NULL
)
SELECT exchange_id, symbol,
  ROUND(AVG({q2k_sql("GREATEST(2.0 * (EXP(alpha) - 1.0) / (1.0 + EXP(alpha)), 0.0)", 36)}), 6)
    AS cs_spread_est,
  COUNT(*) AS n_pairs
FROM alphas GROUP BY exchange_id, symbol
"""


@register("book_corwin_schultz", _CS_SQL)
def q_book_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz (2012) high-low spread estimator per instrument —
    the OHLC-only companion to Roll (book_roll_amihud): consecutive
    1-second buckets give beta (sum of squared single-bucket log
    ranges) and gamma (squared two-bucket log range); the closed-form
    alpha maps to a per-pair spread 2(e^a - 1)/(1 + e^a), negatives
    floored to zero before averaging (the paper's convention). Input is
    the same OHLC rollup the range-vol estimators use (order-free
    aggregates), one more keyed LAG window, one groupBy on the same
    keys. The per-pair spreads are quantized to 2^-36 multiples before
    the AVG so the sum is exact in any accumulation order (ADVICE r7),
    then rounded at 6 dp."""
    book = synthetic_book(spark, sf_dir)
    mids = book.select(
        *IDS,
        ((F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)).alias("mid"),
        (F.expr("ts_ms DIV 1000") * F.lit(1000)).alias("bucket_ms"),
    )
    ohlc = mids.groupBy(*KEYS, "bucket_ms").agg(
        F.max("mid").alias("h"), F.min("mid").alias("l")
    )
    # lag-1 over the 1s bucket series (per-key rows = tape seconds —
    # grows with data); size-dispatched, window=2
    lr = F.log(F.col("h") / F.col("l"))
    hp, lp = F.col("hp"), F.col("lp")
    lrp = F.log(hp / lp)
    beta = lr * lr + lrp * lrp
    g = F.log(F.greatest(F.col("h"), hp) / F.least(F.col("l"), lp))
    gamma = g * g
    k = F.lit(3.0) - F.lit(2.0) * F.sqrt(F.lit(2.0))
    lagged = W.series_stages(
        ohlc,
        lambda w: {"hp": F.lag("h").over(w), "lp": F.lag("l").over(w)},
        window=2,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col="bucket_ms",
    )
    paired = lagged.select(
        *KEYS, beta.alias("beta"), gamma.alias("gamma")
    ).filter(F.col("beta").isNotNull())
    alpha = (
        (F.sqrt(F.lit(2.0) * F.col("beta")) - F.sqrt(F.col("beta"))) / k
        - F.sqrt(F.col("gamma") / k)
    )
    s = F.lit(2.0) * (F.exp(alpha) - F.lit(1.0)) / (F.lit(1.0) + F.exp(alpha))
    return paired.groupBy(*KEYS).agg(
        F.round(
            F.avg(q2k_col(F.greatest(s, F.lit(0.0)), 36)), 6
        ).alias("cs_spread_est"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


_VAMP_Q = 10.0


def _vamp_sql() -> str:
    wa = _walk_exprs(repr(_VAMP_Q), BOOK_DEPTH, side="ask")
    wb = _walk_exprs(repr(_VAMP_Q), BOOK_DEPTH, side="bid")
    return f"""{_BOOK_CTE}
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  CASE WHEN ({wa['filled']}) = {_VAMP_Q!r} AND ({wb['filled']}) = {_VAMP_Q!r}
       THEN (({wa['cost']}) / {_VAMP_Q!r} + ({wb['cost']}) / {_VAMP_Q!r}) / 2.0
  END AS vamp,
  CASE WHEN ({wa['filled']}) = {_VAMP_Q!r} AND ({wb['filled']}) = {_VAMP_Q!r}
       THEN (({wa['cost']}) / {_VAMP_Q!r}) - (({wb['cost']}) / {_VAMP_Q!r})
  END AS exec_spread_q,
  (best_bid + best_ask) / 2.0 AS mid
FROM book"""


@register("book_vamp", _vamp_sql())
def q_book_vamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-adjusted mid price at size Q=10 per snapshot — the fair
    transfer price for an actual clip, not the L1 midpoint: walk the ask
    ladder for a Q-size buy and the bid ladder for a Q-size sell (the
    same X2 greedy fold, once per side), average the two execution
    VWAPs. ``exec_spread_q`` (buy VWAP - sell VWAP) is the
    effective round-trip cost at size — the spread a taker of Q
    actually pays, vs the L1 quoted spread. NULL when either side's
    visible depth can't absorb Q (fills are exact-quarter sums, so the
    full-fill equality is exact). Map-only: two in-row array folds, no
    shuffle, whole-stage codegen."""
    from market_microstructure_toolkit_spark.functions.arrays import (
        ladder_from_wide,
        valid_levels,
        walk_book,
    )

    book = synthetic_book(spark, sf_dir)
    q = F.lit(_VAMP_Q)
    wa = walk_book(valid_levels(ladder_from_wide("ask", BOOK_DEPTH)), q)
    wb = walk_book(valid_levels(ladder_from_wide("bid", BOOK_DEPTH)), q)
    out = book.withColumn("__a", wa).withColumn("__b", wb)
    full = (F.col("__a.filled") == q) & (F.col("__b.filled") == q)
    buy_vwap = F.col("__a.cost") / q
    sell_vwap = F.col("__b.cost") / q
    return out.select(
        *IDS,
        F.when(full, (buy_vwap + sell_vwap) / F.lit(2.0)).alias("vamp"),
        F.when(full, buy_vwap - sell_vwap).alias("exec_spread_q"),
        ((F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)).alias("mid"),
    )


_OFI_R2_SQL = f"""{_BOOK_CTE},
feat AS (
  SELECT exchange_id, symbol,
    CASE
      WHEN best_bid > LAG(best_bid) OVER ({_W}) THEN COALESCE(bid1_size, 0.0)
      WHEN best_bid = LAG(best_bid) OVER ({_W})
        THEN COALESCE(bid1_size, 0.0)
             - LAG(COALESCE(bid1_size, 0.0)) OVER ({_W})
      ELSE -LAG(COALESCE(bid1_size, 0.0)) OVER ({_W})
    END
    - CASE
      WHEN best_ask < LAG(best_ask) OVER ({_W}) THEN COALESCE(ask1_size, 0.0)
      WHEN best_ask = LAG(best_ask) OVER ({_W})
        THEN COALESCE(ask1_size, 0.0)
             - LAG(COALESCE(ask1_size, 0.0)) OVER ({_W})
      ELSE -LAG(COALESCE(ask1_size, 0.0)) OVER ({_W})
    END AS ofi,
    LEAD((best_bid + best_ask) / 2.0) OVER ({_W})
      - (best_bid + best_ask) / 2.0 AS fwd_ret
  FROM book
),
clean AS (SELECT * FROM feat WHERE ofi IS NOT NULL AND fwd_ret IS NOT NULL)
SELECT exchange_id, symbol,
  ROUND(COVAR_SAMP(ofi, fwd_ret) / VAR_SAMP(ofi), 8) AS beta,
  ROUND(POWER(CORR(ofi, fwd_ret), 2), 6) AS r2,
  COUNT(*) AS n_obs
FROM clean GROUP BY exchange_id, symbol
"""


@register("book_ofi_predictive_r2", _OFI_R2_SQL)
def q_book_ofi_predictive_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cont-Kukanov-Stoikov (2014) headline result as a gate: OFI's
    contemporaneous-to-next-tick price impact, per instrument — OLS
    slope beta = Cov(OFI, fwd mid change)/Var(OFI) and predictive R^2 =
    Corr^2, both closed-form from covariance aggregates (no iterative
    fit, same shape as Kyle lambda). One keyed window computes the
    strict OFI and the LEAD forward return in a single pass; the
    groupBy co-partitions. Covariance reductions are order-sensitive —
    beta rounds at 8 dp (slopes are small: size units per mid tick),
    R^2 at 6 dp."""
    book = synthetic_book(spark, sf_dir)
    bid, ask = F.col("best_bid"), F.col("best_ask")
    bsz = F.coalesce(F.col("bid1_size"), F.lit(0.0))
    asz = F.coalesce(F.col("ask1_size"), F.lit(0.0))
    mid = (bid + ask) / F.lit(2.0)

    # lag-1 OFI + lead-1 forward return in one stage; size-dispatched
    # (window=2, forward halo of 1)
    def _stage(w):
        bid_p, ask_p = F.lag(bid).over(w), F.lag(ask).over(w)
        bsz_p, asz_p = F.lag(bsz).over(w), F.lag(asz).over(w)
        ofi = (
            F.when(bid > bid_p, bsz)
            .when(bid == bid_p, bsz - bsz_p)
            .otherwise(-bsz_p)
        ) - (
            F.when(ask < ask_p, asz)
            .when(ask == ask_p, asz - asz_p)
            .otherwise(-asz_p)
        )
        return {"ofi": ofi, "fwd_ret": F.lead(mid).over(w) - mid}

    feat = (
        W.series_stages(
            book.select(
                *KEYS, *ORDER_COLS,
                "best_bid", "best_ask", "bid1_size", "ask1_size",
            ),
            _stage,
            window=2,
            lookahead=1,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(*KEYS, "ofi", "fwd_ret")
        .filter(F.col("ofi").isNotNull() & F.col("fwd_ret").isNotNull())
    )
    return feat.groupBy(*KEYS).agg(
        F.round(
            F.covar_samp("ofi", "fwd_ret") / F.var_samp("ofi"), 8
        ).alias("beta"),
        F.round(F.pow(F.corr("ofi", "fwd_ret"), 2), 6).alias("r2"),
        F.count(F.lit(1)).alias("n_obs"),
    )


_IMB_COND_SQL = f"""{_BOOK_CTE},
feat AS (
  SELECT exchange_id, symbol,
    (COALESCE(bid1_size, 0.0) - COALESCE(ask1_size, 0.0))
      / NULLIF(COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0), 0.0)
      AS imb,
    1e4 * (LEAD((best_bid + best_ask) / 2.0) OVER ({_W})
           / ((best_bid + best_ask) / 2.0) - 1.0) AS fwd_bps
  FROM book
),
binned AS (
  SELECT exchange_id, symbol,
    LEAST(GREATEST(CAST(FLOOR((imb + 1.0) * 5.0) AS BIGINT), 0), 9) AS imb_bin,
    fwd_bps
  FROM feat WHERE imb IS NOT NULL AND fwd_bps IS NOT NULL
)
SELECT exchange_id, symbol, imb_bin,
  ROUND(AVG({q2k_sql("fwd_bps", 26)}), 6) AS mean_fwd_bps,
  COUNT(*) AS n_obs
FROM binned GROUP BY exchange_id, symbol, imb_bin
"""


@register("book_imbalance_cond_returns", _IMB_COND_SQL)
def q_book_imbalance_cond_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-monotonicity report for the L1 imbalance: mean next-tick
    mid return (bps) conditioned on the imbalance, binned into 10 FIXED
    [-1, 1] buckets — fixed-width bins, not ntile, so no per-instrument
    rank window is needed and bin edges mean the same thing across
    instruments and dates (the property a signal dashboard needs). A
    monotone mean-return profile across bins is the empirical evidence
    the imbalance signal works; one keyed window (LEAD), one grouped
    AVG over 2^-26-quantized summands (exact in any accumulation
    order, ADVICE r7), rounded at 6 dp."""
    book = synthetic_book(spark, sf_dir)
    bsz = F.coalesce(F.col("bid1_size"), F.lit(0.0))
    asz = F.coalesce(F.col("ask1_size"), F.lit(0.0))
    imb = (bsz - asz) / F.nullif(bsz + asz, F.lit(0.0))
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # lead-1 forward return; size-dispatched (forward halo of 1)
    feat = (
        W.series_stages(
            book.select(
                *KEYS, *ORDER_COLS,
                "best_bid", "best_ask", "bid1_size", "ask1_size",
            ),
            lambda w: {
                "fwd_bps": F.lit(1e4) * (F.lead(mid).over(w) / mid - F.lit(1.0))
            },
            window=1,
            lookahead=1,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(*KEYS, imb.alias("imb"), "fwd_bps")
        .filter(F.col("imb").isNotNull() & F.col("fwd_bps").isNotNull())
    )
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("imb") + F.lit(1.0)) * F.lit(5.0)).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(9).cast("long"),
    )
    return (
        feat.withColumn("imb_bin", bin_)
        .groupBy(*KEYS, "imb_bin")
        .agg(
            F.round(F.avg(q2k_col(F.col("fwd_bps"), 26)), 6).alias(
                "mean_fwd_bps"
            ),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


_CUMSUM_SEG_SQL = f"""{_BOOK_CTE},
ofi AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
    CASE WHEN bid1_price IS NULL OR ask1_price IS NULL
           OR bid1_size IS NULL OR ask1_size IS NULL
           OR LAG(bid1_price) OVER ({_W}) IS NULL
           OR LAG(ask1_price) OVER ({_W}) IS NULL
           OR LAG(bid1_size) OVER ({_W}) IS NULL
           OR LAG(ask1_size) OVER ({_W}) IS NULL
    THEN NULL
    ELSE
      (CASE WHEN bid1_price > LAG(bid1_price) OVER ({_W})
              THEN bid1_size - LAG(bid1_size) OVER ({_W})
            WHEN bid1_price < LAG(bid1_price) OVER ({_W})
              THEN -LAG(bid1_size) OVER ({_W})
            ELSE 0.0 END)
      + (CASE WHEN ask1_price < LAG(ask1_price) OVER ({_W})
              THEN ask1_size - LAG(ask1_size) OVER ({_W})
            WHEN ask1_price > LAG(ask1_price) OVER ({_W})
              THEN -LAG(ask1_size) OVER ({_W})
            ELSE 0.0 END)
    END AS ofi_l1
  FROM book
)
SELECT exchange_id, symbol, ts_ms, raw_nonce, ofi_l1,
       SUM(ofi_l1) OVER ({_W}
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ofi_l1_cum
FROM ofi
"""


@register("book_cumsum_segmented", _CUMSUM_SEG_SQL)
def q_book_cumsum_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7's running total through the SEGMENTED prefix-sum path
    (window_metrics.add_cumulative_segmented) — the two-phase parallel
    scan that breaks the one-core-per-key serialization of long
    single-instrument histories (the bottleneck the 100x dollar-bars
    probe measured): 64 range segments per key compute local prefix
    sums in parallel, segment offsets come from a config-sized
    aggregate, final = local + offset. The oracle is the PLAIN
    ``SUM() OVER`` — hash-equality proves the decomposition is exact
    (OFI summands are exact binary fractions, so regrouping cannot
    perturb the total)."""
    from market_microstructure_toolkit_spark.operators.window_metrics import (
        add_cumulative_segmented,
        add_ofi_l1,
    )

    book = synthetic_book(spark, sf_dir)
    ofi = add_ofi_l1(book, mode="strict", order_col=ORDER_COLS).select(
        *IDS, "ofi_l1"
    )
    out = add_cumulative_segmented(
        ofi, "ofi_l1", out_col="ofi_l1_cum", keys=KEYS, order_col=list(ORDER_COLS)
    )
    return out.select(*IDS, "ofi_l1", "ofi_l1_cum")


_VOLUME_BAR_THRESHOLD = 500.0


_VOLUME_BARS_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
cum AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, price, qty,
    SUM(qty) OVER ({_W}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - qty AS prefix
  FROM trades
),
bars AS (
  SELECT *, CAST(floor(prefix / {_VOLUME_BAR_THRESHOLD}) AS BIGINT) AS bar_id
  FROM cum
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, bar_id
                       ORDER BY ts_ms, raw_nonce) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, bar_id
                       ORDER BY ts_ms DESC, raw_nonce DESC) AS rn_d
  FROM bars
)
SELECT exchange_id, symbol, bar_id,
       MAX(CASE WHEN rn_a = 1 THEN price END) AS open_px,
       MAX(price) AS high_px,
       MIN(price) AS low_px,
       MAX(CASE WHEN rn_d = 1 THEN price END) AS close_px,
       SUM(qty) AS volume,
       COUNT(*) AS n_trades,
       MIN(ts_ms) AS start_ms,
       MAX(ts_ms) AS end_ms
FROM ranked
GROUP BY exchange_id, symbol, bar_id
"""


@register("trade_volume_bars", _VOLUME_BARS_SQL)
def q_trade_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars — the second of de Prado's event-based bar clocks
    beside trade_dollar_bars (and the same clock VPIN buckets on): a
    new bar every 500 units traded. The tape's quantities are exact
    binary fractions, so the running prefix sum needs NO quantization —
    bar boundaries and per-bar volumes are engine-exact as-is. The
    start/end timestamps expose the information-clock property: bar
    duration compresses in active periods and stretches in quiet ones.
    Same co-partitioned one-window + grouped-OHLC shape as the dollar
    bars; the per-key sequential prefix sum has the segmented-scan
    remedy (add_cumulative_segmented) if one instrument's tape becomes
    the task bottleneck."""
    trades = synthetic_trades(spark, sf_dir)
    # exact-binary qty prefix sum; size-dispatched to the segmented
    # scan (same remedy the dollar bars already ride)
    if W.use_segmented(book_rows_per_key(sf_dir)):
        bars = W.add_cumulative_segmented(
            trades, "qty", out_col="__cum", keys=KEYS,
            order_col=list(ORDER_COLS),
        ).withColumn(
            "bar_id",
            F.floor(
                (F.col("__cum") - F.col("qty")) / F.lit(_VOLUME_BAR_THRESHOLD)
            ).cast("long"),
        ).drop("__cum")
    else:
        w = (
            Window.partitionBy(*KEYS)
            .orderBy(*ORDER_COLS)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        bars = trades.withColumn(
            "bar_id",
            F.floor(
                (F.sum("qty").over(w) - F.col("qty"))
                / F.lit(_VOLUME_BAR_THRESHOLD)
            ).cast("long"),
        )
    wa = Window.partitionBy(*KEYS, "bar_id").orderBy(*ORDER_COLS)
    wd = Window.partitionBy(*KEYS, "bar_id").orderBy(
        *[F.col(c).desc() for c in ORDER_COLS]
    )
    ranked = bars.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return ranked.groupBy(*KEYS, "bar_id").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("price"))).alias("open_px"),
        F.max("price").alias("high_px"),
        F.min("price").alias("low_px"),
        F.max(F.when(F.col("rn_d") == 1, F.col("price"))).alias("close_px"),
        F.sum("qty").alias("volume"),
        F.count(F.lit(1)).alias("n_trades"),
        F.min("ts_ms").alias("start_ms"),
        F.max("ts_ms").alias("end_ms"),
    )


_WINSOR_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
spiked AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, mid,
         price * (CASE WHEN raw_nonce % 211 = 0 THEN 1.05 ELSE 1.0 END) - mid
           AS dev
  FROM trades
),
med AS (
  SELECT exchange_id, symbol, quantile_cont(dev, 0.5) AS med
  FROM spiked GROUP BY exchange_id, symbol
),
mad AS (
  SELECT s.exchange_id, s.symbol, quantile_cont(abs(s.dev - m.med), 0.5) AS mad
  FROM spiked s JOIN med m USING (exchange_id, symbol)
  GROUP BY s.exchange_id, s.symbol
)
SELECT s.exchange_id, s.symbol, s.ts_ms, s.raw_nonce,
       ROUND(s.mid + s.dev, 6) AS price_raw,
       COALESCE(abs(s.dev - m.med) > 5.0 * d.mad, FALSE) AS is_outlier,
       ROUND(s.mid + (CASE WHEN s.dev > m.med + 5.0 * d.mad THEN m.med + 5.0 * d.mad
                           WHEN s.dev < m.med - 5.0 * d.mad THEN m.med - 5.0 * d.mad
                           ELSE s.dev END), 6) AS price_winsorized
FROM spiked s
JOIN med m USING (exchange_id, symbol)
JOIN mad d USING (exchange_id, symbol)
"""


@register("trade_outlier_winsorize", _WINSOR_SQL)
def q_trade_outlier_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust tape cleaning (Brownlees-Gallo 2006 family): flag and clip
    prints whose DEVIATION FROM THE PREVAILING MID is further than
    5 MADs from the per-instrument median deviation. Filtering the
    deviation, not the raw price, is what makes the rule work on a
    trending tape — the raw-price median would flag the legitimate
    tails of the day's price range while a fat-fingered print near the
    median price slipped through. The fixture plants a +5% spike on
    every 211th print (~5 units vs quarter-spread deviations of
    ~±0.05), so the flag provably fires on exactly those (unit-pinned).
    Median and MAD are exact interpolated percentiles — two grouped
    aggregates whose 4-row results broadcast back onto the tape, so
    the tape is never shuffled (at 100 TB the percentile aggregates
    are the only wide stages, and they partial-aggregate).
    IEEE-identical arithmetic both engines; only the emitted prices are
    rounded (6 dp)."""
    trades = synthetic_trades(spark, sf_dir)
    spiked = trades.select(
        *KEYS,
        "ts_ms",
        "raw_nonce",
        "mid",
        (
            F.col("price")
            * F.when(F.col("raw_nonce") % 211 == 0, F.lit(1.05)).otherwise(
                F.lit(1.0)
            )
            - F.col("mid")
        ).alias("dev"),
    )
    med = spiked.groupBy(*KEYS).agg(
        F.percentile("dev", F.lit(0.5)).alias("med")
    )
    mad = (
        spiked.join(F.broadcast(med), list(KEYS))
        .groupBy(*KEYS)
        .agg(
            F.percentile(F.abs(F.col("dev") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    lo = F.col("med") - F.lit(5.0) * F.col("mad")
    hi = F.col("med") + F.lit(5.0) * F.col("mad")
    return (
        spiked.join(F.broadcast(med), list(KEYS))
        .join(F.broadcast(mad), list(KEYS))
        .select(
            *KEYS,
            "ts_ms",
            "raw_nonce",
            F.round(F.col("mid") + F.col("dev"), 6).alias("price_raw"),
            # coalesce: a print with no prevailing mid (empty-ask plant)
            # has a NULL deviation and is NOT flagged — also keeps the
            # output boolean non-nullable (a NULL boolean column changes
            # pandas dtype on one engine and poisons the value hash)
            F.coalesce(
                F.abs(F.col("dev") - F.col("med"))
                > F.lit(5.0) * F.col("mad"),
                F.lit(False),
            ).alias("is_outlier"),
            F.round(
                F.col("mid")
                + F.when(F.col("dev") > hi, hi)
                .when(F.col("dev") < lo, lo)
                .otherwise(F.col("dev")),
                6,
            ).alias("price_winsorized"),
        )
    )


_RSPREAD_DELTA_MS = 60_000


_RSPREAD_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
m AS (
  -- mid IS NOT NULL *before* the ASOF match: the benchmark is the
  -- first AVAILABLE midpoint at-or-after t+60s — a quote-less tick
  -- (empty-ask plant) is skipped over, not matched-then-dropped.
  -- (DuckDB would push a post-join filter down here anyway, silently;
  -- stating it in the source keeps both engines' semantics explicit.)
  SELECT exchange_id, symbol, -ts_ms AS nts, mid AS mid_fut
  FROM trades WHERE mid IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY exchange_id, symbol, ts_ms
                             ORDER BY raw_nonce ASC) = 1
),
t AS (
  SELECT *, -(ts_ms + {_RSPREAD_DELTA_MS}) AS ntarget,
         CASE WHEN price > mid THEN 1.0 WHEN price < mid THEN -1.0 ELSE 0.0 END AS q
  FROM trades
),
j AS (
  SELECT t.exchange_id, t.symbol, t.q, t.price, t.mid, m.mid_fut
  FROM t ASOF JOIN m
    ON t.exchange_id = m.exchange_id AND t.symbol = m.symbol
   AND m.nts <= t.ntarget
  WHERE t.q <> 0.0
)
SELECT exchange_id, symbol,
       COUNT(*) AS n_trades,
       ROUND(AVG({q2k_sql("2.0 * q * (price - mid)", 26)}), 6) AS avg_effective_spread,
       ROUND(AVG({q2k_sql("2.0 * q * (price - mid_fut)", 26)}), 6) AS avg_realized_spread,
       ROUND(AVG({q2k_sql("2.0 * q * (mid_fut - mid)", 26)}), 6) AS avg_price_impact
FROM j GROUP BY exchange_id, symbol
"""


@register("trade_realized_spread", _RSPREAD_SQL)
def q_trade_realized_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-spread decomposition at a 60 s midpoint benchmark
    (the exchange-report / TAQ-literature standard): effective spread
    2q(p - mid) splits into realized spread 2q(p - mid_fut) — what the
    liquidity provider actually keeps — plus price impact
    2q(mid_fut - mid), the adverse-selection leak, where mid_fut is the
    prevailing mid at the first tick >= 60 s after the print. The
    FORWARD as-of lookup reuses the join-free backward machinery
    (operators/asof.py::asof_backward_union) on NEGATED timestamps —
    forward-asof(ts) == backward-asof(-ts) — so the plan stays one
    union + one keyed window, no join operator, at any scale. Quote-rule
    signs; mid prints (q=0) and tape-tail trades with no 60 s-ahead
    tick are excluded on both engines (inner semantics). Oracle: DuckDB
    ASOF JOIN on the same negated axis."""
    from market_microstructure_toolkit_spark.operators.asof import (
        asof_backward_union,
    )

    trades = synthetic_trades(spark, sf_dir)
    # Quote-less ticks (NULL mid, empty-ask plants) are excluded from
    # the BENCHMARK side *before* the as-of match: the benchmark is the
    # first AVAILABLE midpoint at-or-after t+60s, so a mid-less tick is
    # skipped over rather than matched-then-dropped. This also keeps
    # all three averages over one subset (the decomposition identity
    # eff = realized + impact needs a shared denominator), and the
    # atomic struct carry guarantees no stale-mid back-fill either way.
    snaps = trades.filter(F.col("mid").isNotNull()).select(
        *KEYS,
        (-F.col("ts_ms")).alias("nts"),
        (-F.col("raw_nonce")).alias("raw_nonce"),
        F.col("mid").alias("mid_fut"),
    )
    q = (
        F.when(F.col("price") > F.col("mid"), F.lit(1.0))
        .when(F.col("price") < F.col("mid"), F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    tgts = trades.select(
        *KEYS,
        (-(F.col("ts_ms") + F.lit(_RSPREAD_DELTA_MS))).alias("nts"),
        q.alias("q"),
        "price",
        "mid",
    ).filter(F.col("q") != 0.0)
    # The ATOMIC struct carry makes this exclusion correct: a matched
    # future tick whose mid is NULL (empty-ask plant) is EXCLUDED — the
    # old per-column carry would instead have silently back-filled a
    # STALE mid from an older tick and kept the row. Filtering on
    # mid_fut (not bare match existence) keeps all three averages over
    # one subset, preserving the identity eff = realized + impact.
    picked = asof_backward_union(
        snaps,
        tgts,
        keys=KEYS,
        ts_col="nts",
        value_cols=("mid_fut",),
        target_ts_col="nts",
        target_payload_cols=("q", "price", "mid"),
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    ).filter(F.col("mid_fut").isNotNull())
    two_q = F.lit(2.0) * F.col("q")
    return picked.groupBy(*KEYS).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.round(
            F.avg(q2k_col(two_q * (F.col("price") - F.col("mid")), 26)), 6
        ).alias("avg_effective_spread"),
        F.round(
            F.avg(q2k_col(two_q * (F.col("price") - F.col("mid_fut")), 26)), 6
        ).alias("avg_realized_spread"),
        F.round(
            F.avg(q2k_col(two_q * (F.col("mid_fut") - F.col("mid")), 26)), 6
        ).alias("avg_price_impact"),
    )


_SIGN_ACF_MAX_LAG = 5


_SIGN_ACF_SQL = f"""{_CLASSIFIED_CTE},
lagged AS (
  SELECT exchange_id, symbol,
    {", ".join(f"side * LAG(side, {k}) OVER ({_W}) AS p{k}" for k in range(1, _SIGN_ACF_MAX_LAG + 1))}
  FROM classified
),
long AS (
  {" UNION ALL ".join(f"SELECT exchange_id, symbol, {k} AS lag, p{k} AS p FROM lagged" for k in range(1, _SIGN_ACF_MAX_LAG + 1))}
)
SELECT exchange_id, symbol, CAST(lag AS BIGINT) AS lag,
       ROUND(AVG(CAST(p AS DOUBLE)), 6) AS sign_acf,
       COUNT(p) AS n_pairs
FROM long GROUP BY exchange_id, symbol, lag
"""


@register("trade_sign_autocorrelation", _SIGN_ACF_SQL)
def q_trade_sign_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-flow sign autocorrelation at lags 1..5 — the long-memory
    diagnostic (Bouchaud et al.; Lillo-Farmer): real order flow has
    slowly decaying positive sign ACF from order splitting, and any
    impact model (Kyle lambda, OFI R^2 — both gated here) must be read
    against it. Signs from the same Lee-Ready classifier the signs gate
    pins; ACF_k = mean(s_t * s_{{t-k}}) via ONE instrument-keyed window
    pass computing all 5 lagged products, unpivoted in-plan (explode of
    a 5-element struct array — no second scan, no join). Integer
    products sum exactly; only the final mean is rounded."""
    tape = synthetic_trades(spark, sf_dir)
    cls = T.classify_lee_ready(
        tape, KEYS, ORDER_COLS,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
    )
    # one stage with sign-product lags 1..5 -> lookback 6; dispatched
    # on the same predicate as the classify carry above
    lagged = W.series_stages(
        cls.select(*KEYS, *ORDER_COLS, "side"),
        lambda w: {
            f"__p{k}": (F.col("side") * F.lag("side", k).over(w)).cast(
                "double"
            )
            for k in range(1, _SIGN_ACF_MAX_LAG + 1)
        },
        window=_SIGN_ACF_MAX_LAG + 1,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    )
    prods = lagged.select(
        *KEYS,
        F.posexplode(
            F.array(
                *[F.col(f"__p{k}") for k in range(1, _SIGN_ACF_MAX_LAG + 1)]
            )
        ).alias("__i", "p"),
    )
    return (
        prods.groupBy(*KEYS, (F.col("__i") + 1).cast("long").alias("lag"))
        .agg(
            F.round(F.avg("p"), 6).alias("sign_acf"),
            F.count("p").alias("n_pairs"),
        )
    )


_PRICE_CLUSTER_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
q AS (
  -- price IS NOT NULL: quote-less prints (empty-ask plants) have no
  -- price digit to histogram
  SELECT exchange_id, symbol,
         floor(price * 1024.0 + 0.5) / 1024.0 AS pq
  FROM trades WHERE price IS NOT NULL
)
SELECT exchange_id, symbol,
       CAST(CAST(floor(pq * 100.0) AS BIGINT) % 100 AS BIGINT) AS cent_bucket,
       COUNT(*) AS n_trades
FROM q GROUP BY exchange_id, symbol, CAST(CAST(floor(pq * 100.0) AS BIGINT) % 100 AS BIGINT)
"""


@register("trade_price_clustering", _PRICE_CLUSTER_SQL)
def q_trade_price_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price clustering histogram (Harris 1991): the distribution of the
    cent digit of trade prices — real tapes pile up on round increments
    (whole cents, nickels, quarters), and the histogram's shape is the
    standard effective-tick-size diagnostic. Prices are first quantized
    to 2^-10 (the repo's exact-binary idiom) so the cent extraction is
    engine-exact — floor of a double whose value is k/1024 is the same
    double op on both engines, with no epsilon hacks. One map + one
    grouped count; integer output."""
    trades = synthetic_trades(spark, sf_dir).filter(
        F.col("price").isNotNull()
    )
    pq = F.expr("floor(price * 1024e0 + 5e-1) / 1024e0")
    cent = (
        F.floor(pq * F.lit(100.0)).cast("long") % F.lit(100)
    ).cast("long")
    return (
        trades.select(*KEYS, cent.alias("cent_bucket"))
        .groupBy(*KEYS, "cent_bucket")
        .agg(F.count(F.lit(1)).alias("n_trades"))
    )


_NONCE_AUDIT_SQL = f"""{_BOOK_CTE},
d AS (
  SELECT exchange_id, symbol,
         raw_nonce - LAG(raw_nonce) OVER ({_W}) AS dn,
         ts_ms - LAG(ts_ms) OVER ({_W}) AS dt
  FROM book
),
step AS (
  SELECT exchange_id, symbol,
         MIN(dn) AS min_step
  FROM d WHERE dn IS NOT NULL GROUP BY exchange_id, symbol
)
SELECT d.exchange_id, d.symbol,
       COUNT(*) + 1 AS n_rows,
       CAST(SUM(CASE WHEN d.dn > s.min_step THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       CAST(SUM(CASE WHEN d.dn > s.min_step
                     THEN (d.dn - s.min_step) / s.min_step ELSE 0 END)
            AS BIGINT) AS n_missing,
       CAST(SUM(CASE WHEN d.dn <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nonce_regressions,
       CAST(SUM(CASE WHEN d.dt < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ts_regressions
FROM d JOIN step s USING (exchange_id, symbol)
WHERE d.dn IS NOT NULL
GROUP BY d.exchange_id, d.symbol
"""


@register("book_nonce_gap_audit", _NONCE_AUDIT_SQL)
def q_book_nonce_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recorder integrity audit: per instrument, detect dropped messages
    (nonce increments above the instrument's own base step — inferred
    as the MIN observed increment, so the audit needs no out-of-band
    knowledge of the feed's numbering), nonce regressions (replays /
    out-of-order writes), and timestamp regressions. This is the
    first health check run over any recorded tape before analytics
    trust it (the reference records exchange nonces for exactly this
    purpose). One keyed window pass for the diffs, a tiny per-key
    aggregate for the base step broadcast back, integer output —
    engine-exact."""
    book = synthetic_book(spark, sf_dir, depth=1)
    # lag-1 diffs; size-dispatched (wscale audit)
    d = (
        W.series_stages(
            book.select(*KEYS, *ORDER_COLS),
            lambda w: {
                "dn": F.col("raw_nonce") - F.lag("raw_nonce").over(w),
                "dt": F.col("ts_ms") - F.lag("ts_ms").over(w),
            },
            window=2,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(*KEYS, "dn", "dt")
        .filter(F.col("dn").isNotNull())
    )
    step = d.groupBy(*KEYS).agg(F.min("dn").alias("min_step"))
    gap = F.col("dn") > F.col("min_step")
    return (
        d.join(F.broadcast(step), list(KEYS))
        .groupBy(*KEYS)
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_rows"),
            F.sum(gap.cast("long")).alias("n_gaps"),
            F.sum(
                F.when(
                    gap, (F.col("dn") - F.col("min_step")) / F.col("min_step")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_missing"),
            F.sum((F.col("dn") <= 0).cast("long")).alias("n_nonce_regressions"),
            F.sum((F.col("dt") < 0).cast("long")).alias("n_ts_regressions"),
        )
    )


_SPLIT_ADJUST_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
s AS (
  SELECT *, CASE WHEN raw_nonce % 997 = 0 THEN 1 ELSE 0 END AS is_split
  FROM trades
),
k AS (
  SELECT *, COALESCE(SUM(is_split) OVER ({_W.replace("ORDER BY ts_ms, raw_nonce", "ORDER BY ts_ms DESC, raw_nonce DESC")}
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_future_splits
  FROM s
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
       floor(price * 1048576.0 + 0.5) / 1048576.0 AS price_raw,
       CAST(n_future_splits AS BIGINT) AS n_future_splits,
       floor(price / power(2.0, n_future_splits) * 1048576.0 + 0.5)
         / 1048576.0 AS price_adjusted
FROM k
"""


@register("trade_split_adjust", _SPLIT_ADJUST_SQL)
def q_trade_split_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corporate-action back-adjustment: every price is divided by
    2^(number of LATER 2:1 splits for its instrument) so the whole
    history is comparable to today's quote basis — the adjustment every
    continuous price series (and every backtest) applies before
    computing returns across a split. Split events are planted on the
    nonce grid (%997); the future-split count is one DESCENDING keyed
    running sum (exclusive frame), and division by a power of two is an
    exact mantissa shift — engine-identical with no accumulation
    error. Same instrument-keyed shuffle every other series op rides."""
    trades = synthetic_trades(spark, sf_dir)
    is_split = F.when(F.col("raw_nonce") % 997 == 0, 1).otherwise(0)
    if W.use_segmented(book_rows_per_key(sf_dir)):
        # the descending exclusive running sum = per-key total minus the
        # ASCENDING inclusive cumsum — integer summands, so the
        # segmented prefix-sum is exact and the identity holds row-wise
        tot = trades.groupBy(*KEYS).agg(F.sum(is_split).alias("__tot"))
        cum = W.add_cumulative_segmented(
            trades.withColumn("__is_split", is_split),
            "__is_split",
            out_col="__cum",
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        k = (
            cum.join(F.broadcast(tot), list(KEYS))
            .withColumn(
                "n_future_splits",
                (F.col("__tot") - F.col("__cum")).cast("long"),
            )
            .drop("__is_split", "__cum", "__tot")
        )
    else:
        wdesc = (
            Window.partitionBy(*KEYS)
            .orderBy(*[F.col(c).desc() for c in ORDER_COLS])
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        k = trades.withColumn(
            "n_future_splits",
            F.coalesce(F.sum(is_split).over(wdesc), F.lit(0)).cast("long"),
        )
    # 2^-20 quantization instead of ROUND(6): decimal rounding of a
    # binary double at a .5 ulp boundary is half-up in DuckDB and
    # half-even in Spark (observed: 12.5931875 -> .593188 vs .593187);
    # floor(x*2^20+0.5) is a single well-defined double op on both
    def q20(c):
        return F.floor(c * F.lit(1048576.0) + F.lit(0.5)) / F.lit(1048576.0)

    return k.select(
        *KEYS,
        "ts_ms",
        "raw_nonce",
        q20(F.col("price")).alias("price_raw"),
        "n_future_splits",
        q20(
            F.col("price") / F.pow(F.lit(2.0), F.col("n_future_splits"))
        ).alias("price_adjusted"),
    )


_TRAIN_MATRIX_H = 10  # label horizon in ticks


_TRAIN_MATRIX_SQL = f"""{_BOOK_CTE},
feat AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS mid,
         best_ask - best_bid AS spread,
         CASE WHEN COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0) > 0
              THEN COALESCE(bid1_size, 0.0)
                   / (COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0))
         END AS imb_l1,
         LEAD((best_bid + best_ask) / 2.0, {_TRAIN_MATRIX_H}) OVER ({_W})
           AS mid_fwd
  FROM book
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
       floor(spread * 1048576.0 + 0.5) / 1048576.0 AS spread,
       floor(imb_l1 * 1048576.0 + 0.5) / 1048576.0 AS imb_l1,
       CASE WHEN mid_fwd > mid THEN 1
            WHEN mid_fwd < mid THEN -1 ELSE 0 END AS label_up
FROM feat WHERE mid_fwd IS NOT NULL AND mid IS NOT NULL
"""


@register("book_train_matrix", _TRAIN_MATRIX_SQL)
def q_book_train_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-matrix assembly — the canonical supervised
    setup for microstructure ML: features computed ONLY from the
    current snapshot (spread, L1 imbalance), label = the SIGN of the
    mid move exactly H=10 ticks ahead via one keyed LEAD window. The
    discipline the gate pins is point-in-time correctness: every
    feature is measurable at the row's own timestamp and the label
    never feeds back (rows whose horizon extends past the tape are
    DROPPED, not zero-filled — a silent fill would train on a fake
    'no-move' class). One instrument-keyed window pass, co-partitioned
    with every other series op; features exact-binary quantized."""
    book = synthetic_book(spark, sf_dir, depth=1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    denom = F.coalesce(F.col("bid1_size"), F.lit(0.0)) + F.coalesce(
        F.col("ask1_size"), F.lit(0.0)
    )
    imb = F.when(
        denom > 0, F.coalesce(F.col("bid1_size"), F.lit(0.0)) / denom
    )

    def q20(c):
        return F.floor(c * F.lit(1048576.0) + F.lit(0.5)) / F.lit(1048576.0)

    # lead-H label; size-dispatched (forward halo of H)
    feat = W.series_stages(
        book.select(
            *KEYS, *ORDER_COLS,
            "best_bid", "best_ask", "bid1_size", "ask1_size",
        ),
        lambda w: {"mid_fwd": F.lead(mid, _TRAIN_MATRIX_H).over(w)},
        window=1,
        lookahead=_TRAIN_MATRIX_H,
        segmented=W.use_segmented(book_rows_per_key(sf_dir)),
        keys=KEYS,
        order_col=list(ORDER_COLS),
    ).select(
        *KEYS,
        "ts_ms",
        "raw_nonce",
        mid.alias("mid"),
        (F.col("best_ask") - F.col("best_bid")).alias("spread"),
        imb.alias("imb_l1"),
        "mid_fwd",
    )
    # both mid endpoints must exist: an empty-ask plant at either end
    # of the horizon gives an UNDEFINED move — dropped, because the
    # CASE's ELSE would otherwise mint the fake 'no-move' class the
    # docstring warns about
    return feat.filter(
        F.col("mid_fwd").isNotNull() & F.col("mid").isNotNull()
    ).select(
        *KEYS,
        "ts_ms",
        "raw_nonce",
        q20(F.col("spread")).alias("spread"),
        q20(F.col("imb_l1")).alias("imb_l1"),
        F.when(F.col("mid_fwd") > F.col("mid"), 1)
        .when(F.col("mid_fwd") < F.col("mid"), -1)
        .otherwise(0)
        .alias("label_up"),
    )


_KFOLD_K = 5


_KFOLD_EMBARGO_MS = 3_600_000  # 1 hour


_PURGED_KFOLD_SQL = f"""{_BOOK_CTE},
bounds AS (
  SELECT exchange_id, symbol, MIN(ts_ms) AS lo, MAX(ts_ms) AS hi
  FROM book GROUP BY exchange_id, symbol
),
folded AS (
  SELECT b.exchange_id, b.symbol, b.ts_ms,
         LEAST({_KFOLD_K - 1},
               CAST(({_KFOLD_K} * (b.ts_ms - d.lo)) // (d.hi - d.lo + 1)
                    AS BIGINT)) AS fold,
         d.lo, d.hi
  FROM book b JOIN bounds d USING (exchange_id, symbol)
),
marked AS (
  SELECT f.exchange_id, f.symbol, f.fold AS test_fold, g.ts_ms,
         CASE
           WHEN g.fold = f.fold THEN 'test'
           WHEN g.ts_ms >= f.lo + (f.hi - f.lo + 1) * f.fold / {_KFOLD_K}.0
                          - {_KFOLD_EMBARGO_MS}
            AND g.ts_ms <  f.lo + (f.hi - f.lo + 1) * (f.fold + 1) / {_KFOLD_K}.0
                          + {_KFOLD_EMBARGO_MS}
             THEN 'embargo'
           ELSE 'train'
         END AS role
  FROM (SELECT DISTINCT exchange_id, symbol, fold, lo, hi FROM folded) f
  JOIN folded g USING (exchange_id, symbol)
)
SELECT exchange_id, symbol, test_fold, role, COUNT(*) AS n_rows
FROM marked GROUP BY exchange_id, symbol, test_fold, role
"""


@register("book_purged_kfold", _PURGED_KFOLD_SQL)
def q_book_purged_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold with embargo for time series (Lopez de Prado 2018
    ch.7): for each of 5 contiguous TIME folds per instrument, every
    tick is test (inside the fold), embargo (within 1 hour of the
    fold's boundaries — dropped so serially-correlated labels can't
    leak across the train/test cut), or train. Random K-fold on a time
    series is how backtests lie; this is the standard correction. The
    fold geometry is value-based (time range split), never a global
    rank — fold bounds come from a tiny per-instrument min/max
    aggregate broadcast back; the fan-out is K test-fold copies of the
    metadata joined against the ticks, all integer/time arithmetic.
    Output is the per-(instrument, fold, role) census — the
    auditable invariants: test+embargo+train = n, test blocks tile."""
    book = synthetic_book(spark, sf_dir, depth=1).select(*KEYS, "ts_ms")
    bounds = book.groupBy(*KEYS).agg(
        F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")
    )
    span = F.col("hi") - F.col("lo") + 1
    folded = book.join(F.broadcast(bounds), list(KEYS)).withColumn(
        "fold",
        F.least(
            F.lit(_KFOLD_K - 1),
            F.expr(f"({_KFOLD_K} * (ts_ms - lo)) DIV (hi - lo + 1)"),
        ).cast("long"),
    )
    test_folds = (
        folded.select(*KEYS, "fold", "lo", "hi")
        .distinct()
        .select(
            *KEYS,
            F.col("fold").alias("test_fold"),
            (
                F.col("lo")
                + span * F.col("fold") / F.lit(float(_KFOLD_K))
                - F.lit(_KFOLD_EMBARGO_MS)
            ).alias("__emb_lo"),
            (
                F.col("lo")
                + span * (F.col("fold") + 1) / F.lit(float(_KFOLD_K))
                + F.lit(_KFOLD_EMBARGO_MS)
            ).alias("__emb_hi"),
        )
    )
    marked = folded.join(F.broadcast(test_folds), list(KEYS)).select(
        *KEYS,
        "test_fold",
        F.when(F.col("fold") == F.col("test_fold"), F.lit("test"))
        .when(
            (F.col("ts_ms") >= F.col("__emb_lo"))
            & (F.col("ts_ms") < F.col("__emb_hi")),
            F.lit("embargo"),
        )
        .otherwise(F.lit("train"))
        .alias("role"),
    )
    return marked.groupBy(*KEYS, "test_fold", "role").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


_TW_MID_SQL = f"""{_BOOK_CTE},
seg AS (
  SELECT exchange_id, symbol, ts_ms,
         (best_bid + best_ask) / 2.0 AS mid,
         LEAD(ts_ms) OVER ({_W}) - ts_ms AS dt_ms,
         CAST(ts_ms // 3600000 AS BIGINT) AS hour_bucket
  FROM book
)
SELECT exchange_id, symbol, hour_bucket,
       CAST(SUM(CAST(mid * dt_ms AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(SUM(dt_ms) AS DOUBLE) AS tw_mid,
       CAST(SUM(dt_ms) AS BIGINT) AS covered_ms,
       COUNT(*) AS n_quotes
FROM seg WHERE dt_ms IS NOT NULL
GROUP BY exchange_id, symbol, hour_bucket
"""


@register("book_time_weighted_mid", _TW_MID_SQL)
def q_book_time_weighted_mid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average mid per hour — the quote-side TWAP
    (regulatory benchmarks and venue scorecards weight by the DURATION
    a quote prevailed, not by tick count, so a flickering quote can't
    dominate the average): each quote's weight is the interval to the
    next tick (one keyed LEAD), summed per hour bucket. Sums accumulate
    in DECIMAL(28,6) (mid * dt products are money-like magnitudes —
    order-free exact, the repo's money idiom) and divide once at the
    end. The final hourless tail quote of each instrument drops (no
    prevailing interval), matching the oracle's NULL-lead filter."""
    book = synthetic_book(spark, sf_dir, depth=1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # lead-1 prevailing interval; size-dispatched (forward halo of 1)
    seg = (
        W.series_stages(
            book.select(*KEYS, *ORDER_COLS, "best_bid", "best_ask"),
            lambda w: {"dt_ms": F.lead("ts_ms").over(w) - F.col("ts_ms")},
            window=1,
            lookahead=1,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(
            *KEYS,
            "ts_ms",
            mid.alias("mid"),
            "dt_ms",
            F.expr("ts_ms DIV 3600000").alias("hour_bucket"),
        )
        .filter(F.col("dt_ms").isNotNull())
    )
    return seg.groupBy(*KEYS, "hour_bucket").agg(
        (
            F.sum((F.col("mid") * F.col("dt_ms")).cast("decimal(28,6)")).cast(
                "double"
            )
            / F.sum("dt_ms").cast("double")
        ).alias("tw_mid"),
        F.sum("dt_ms").cast("long").alias("covered_ms"),
        F.count(F.lit(1)).alias("n_quotes"),
    )


_DELTA_FIELDS = ("best_bid", "best_ask", "bid1_size", "ask1_size")


def _delta_sql_field(f: str) -> str:
    enc = f"COALESCE({f}, -1.0)"
    return f"""
    CASE WHEN LAG({enc}) OVER ({_W}) IS NULL
              OR {enc} <> LAG({enc}) OVER ({_W})
         THEN {enc} END AS d_{f}"""


_DELTA_RECON_SQL = f"""{_BOOK_CTE},
deltas AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         {", ".join(f"COALESCE({f}, -1.0) AS e_{f}" for f in _DELTA_FIELDS)},
         {", ".join(_delta_sql_field(f) for f in _DELTA_FIELDS)}
  FROM book
),
recon AS (
  SELECT *,
         {", ".join(
            f"LAST_VALUE(d_{f} IGNORE NULLS) OVER ({_W} ROWS BETWEEN"
            f" UNBOUNDED PRECEDING AND CURRENT ROW) AS r_{f}"
            for f in _DELTA_FIELDS)}
  FROM deltas
)
SELECT exchange_id, symbol,
       COUNT(*) AS n_rows,
       CAST({" + ".join(f"SUM(CASE WHEN d_{f} IS NOT NULL THEN 1 ELSE 0 END)"
                        for f in _DELTA_FIELDS)} AS BIGINT) AS n_deltas,
       COUNT(*) * {len(_DELTA_FIELDS)} AS n_fields_total,
       {" AND ".join(f"SUM(CASE WHEN r_{f} <> e_{f} THEN 1 ELSE 0 END) = 0"
                     for f in _DELTA_FIELDS)} AS reconstruction_ok
FROM recon
GROUP BY exchange_id, symbol
"""


@register("book_delta_reconstruct", _DELTA_RECON_SQL)
def q_book_delta_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-feed round trip — the core exchange-feed ingestion op: real
    L2 feeds send LEVEL UPDATES, not snapshots, and the recorder
    reconstructs state by carrying each level's last update forward.
    The gate derives the delta stream FROM the snapshot tape (emit a
    field only when it changed — with null-able levels encoded via a
    -1 sentinel, since NULL must mean "no change" on the wire), then
    reconstructs every snapshot with per-field last-non-null keyed
    windows and verifies byte-equality against the original. Output:
    per instrument, the delta compression ratio (n_deltas of
    n_fields_total slots) and ``reconstruction_ok`` — COMPUTED, and
    asserted by identical logic in the oracle. Both passes ride the one
    instrument-keyed shuffle; at scale the delta stream is the
    bandwidth win (the fixture's books change one field per tick,
    ~25% of slots)."""
    book = synthetic_book(spark, sf_dir, depth=1)
    enc = {f: F.coalesce(F.col(f), F.lit(-1.0)) for f in _DELTA_FIELDS}
    seg_on = W.use_segmented(book_rows_per_key(sf_dir))
    # lag-1 delta encode; size-dispatched (wscale audit)
    deltas = W.series_stages(
        book.select(*KEYS, *ORDER_COLS, *_DELTA_FIELDS),
        lambda w: {
            **{f"e_{f}": enc[f] for f in _DELTA_FIELDS},
            **{
                f"d_{f}": F.when(
                    F.lag(enc[f]).over(w).isNull()
                    | (enc[f] != F.lag(enc[f]).over(w)),
                    enc[f],
                )
                for f in _DELTA_FIELDS
            },
        },
        window=2,
        segmented=seg_on,
        keys=KEYS,
        order_col=list(ORDER_COLS),
    ).select(
        *KEYS,
        "ts_ms",
        "raw_nonce",
        *[f"e_{f}" for f in _DELTA_FIELDS],
        *[f"d_{f}" for f in _DELTA_FIELDS],
    )
    if seg_on:
        # four independent forward-fill carries on the segmented path
        # (selection, value-identical to the running-last window)
        recon = deltas
        for f in _DELTA_FIELDS:
            recon = W.add_running_last_segmented(
                recon,
                f"d_{f}",
                out_col=f"r_{f}",
                keys=KEYS,
                order_col=list(ORDER_COLS),
            )
    else:
        wrun = (
            Window.partitionBy(*KEYS)
            .orderBy(*ORDER_COLS)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        recon = deltas.select(
            "*",
            *[
                F.last(F.col(f"d_{f}"), ignorenulls=True)
                .over(wrun)
                .alias(f"r_{f}")
                for f in _DELTA_FIELDS
            ],
        )
    n_deltas = None
    ok = None
    for f in _DELTA_FIELDS:
        nd = F.sum(F.col(f"d_{f}").isNotNull().cast("long"))
        n_deltas = nd if n_deltas is None else n_deltas + nd
        o = F.sum((F.col(f"r_{f}") != F.col(f"e_{f}")).cast("long")) == 0
        ok = o if ok is None else ok & o
    return recon.groupBy(*KEYS).agg(
        F.count(F.lit(1)).alias("n_rows"),
        n_deltas.cast("long").alias("n_deltas"),
        (F.count(F.lit(1)) * len(_DELTA_FIELDS)).alias("n_fields_total"),
        ok.alias("reconstruction_ok"),
    )


_FEATURE_AUC_SQL = f"""{_BOOK_CTE},
feat AS (
  SELECT exchange_id, symbol,
         floor(CASE WHEN COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0) > 0
                    THEN COALESCE(bid1_size, 0.0)
                         / (COALESCE(bid1_size, 0.0) + COALESCE(ask1_size, 0.0))
               END * 1048576.0 + 0.5) / 1048576.0 AS x,
         CASE WHEN LEAD((best_bid + best_ask) / 2.0, 10) OVER ({_W})
                   > (best_bid + best_ask) / 2.0 THEN 1 ELSE 0 END AS y,
         (best_bid + best_ask) / 2.0 AS mid,
         LEAD((best_bid + best_ask) / 2.0, 10) OVER ({_W}) AS fwd
  FROM book
),
grouped AS (
  -- mid IS NOT NULL: a row with no own midpoint (empty-ask plant) has
  -- no defined label direction — excluded, not counted as a negative
  SELECT exchange_id, symbol, x,
         CAST(SUM(y) AS BIGINT) AS n_pos_x,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg_x
  FROM feat
  WHERE fwd IS NOT NULL AND x IS NOT NULL AND mid IS NOT NULL
  GROUP BY exchange_id, symbol, x
),
cum AS (
  SELECT *,
         COALESCE(SUM(n_neg_x) OVER (PARTITION BY exchange_id, symbol
                                     ORDER BY x
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS neg_below
  FROM grouped
)
SELECT exchange_id, symbol,
       ROUND(SUM(n_pos_x * (neg_below + n_neg_x / 2.0))
             / (SUM(n_pos_x) * SUM(n_neg_x)), 6) AS auc,
       CAST(SUM(n_pos_x) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg_x) AS BIGINT) AS n_neg
FROM cum GROUP BY exchange_id, symbol
"""


@register("book_feature_auc", _FEATURE_AUC_SQL)
def q_book_feature_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of the L1-imbalance feature predicting the 10-tick-
    ahead up-move — closing the in-engine ML loop (feature ->
    point-in-time label -> evaluation) without ever leaving the
    DataFrame plan: AUC is the Mann-Whitney concordance
    P(x_pos > x_neg) + P(tie)/2, computed exactly from per-distinct-
    value class counts and one cumulative window over the (small)
    distinct-feature domain — NOT a sample sort: the heavy groupBy is
    partial-aggregated on (instrument, x), and the window runs over
    distinct feature values only (<= 2^20 after quantization, typically
    thousands), so a 100 TB tape reduces before anything is ordered.
    Ties get the standard half-credit; rational arithmetic until the
    final 6dp round."""
    book = synthetic_book(spark, sf_dir, depth=1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    denom = F.coalesce(F.col("bid1_size"), F.lit(0.0)) + F.coalesce(
        F.col("ask1_size"), F.lit(0.0)
    )
    imb = F.when(
        denom > 0, F.coalesce(F.col("bid1_size"), F.lit(0.0)) / denom
    )
    x = F.floor(imb * F.lit(1048576.0) + F.lit(0.5)) / F.lit(1048576.0)
    # lead-10 label; size-dispatched (forward halo of 10). mid non-null
    # filter: an empty-ask row has no defined label direction —
    # excluded, not counted as a negative (ELSE 0)
    feat = (
        W.series_stages(
            book.select(
                *KEYS, *ORDER_COLS,
                "best_bid", "best_ask", "bid1_size", "ask1_size",
            ),
            lambda w: {"fwd": F.lead(mid, 10).over(w)},
            window=1,
            lookahead=10,
            segmented=W.use_segmented(book_rows_per_key(sf_dir)),
            keys=KEYS,
            order_col=list(ORDER_COLS),
        )
        .select(
            *KEYS,
            x.alias("x"),
            F.when(F.col("fwd") > mid, 1).otherwise(0).alias("y"),
            mid.alias("mid"),
            "fwd",
        )
        .filter(
            F.col("fwd").isNotNull()
            & F.col("x").isNotNull()
            & F.col("mid").isNotNull()
        )
    )
    from market_microstructure_toolkit_spark.operators.evaluation import (
        exact_auc,
    )

    return exact_auc(feat, "x", "y", keys=KEYS, round_dp=6)


_FINE_MS = 60_000


_COARSE_MS = 300_000


_OHLC_LADDER_SQL = f"""{_BOOK_CTE},
mids AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         (best_bid + best_ask) / 2.0 AS mid,
         ts_ms // {_FINE_MS} * {_FINE_MS} AS fine_ms,
         ts_ms // {_COARSE_MS} * {_COARSE_MS} AS coarse_ms
  FROM book
),
fine AS (
  SELECT exchange_id, symbol, coarse_ms, fine_ms,
         MAX(CASE WHEN rn_a = 1 THEN mid END) AS o,
         MAX(mid) AS h, MIN(mid) AS l,
         MAX(CASE WHEN rn_d = 1 THEN mid END) AS c,
         COUNT(*) AS n
  FROM (
    SELECT *,
      ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, fine_ms
                         ORDER BY ts_ms, raw_nonce) AS rn_a,
      ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, fine_ms
                         ORDER BY ts_ms DESC, raw_nonce DESC) AS rn_d
    FROM mids
  ) GROUP BY exchange_id, symbol, coarse_ms, fine_ms
),
derived AS (
  SELECT exchange_id, symbol, coarse_ms,
         MAX(CASE WHEN rf_a = 1 THEN o END) AS open_mid,
         MAX(h) AS high_mid, MIN(l) AS low_mid,
         MAX(CASE WHEN rf_d = 1 THEN c END) AS close_mid,
         CAST(SUM(n) AS BIGINT) AS n_snapshots
  FROM (
    SELECT *,
      ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, coarse_ms
                         ORDER BY fine_ms) AS rf_a,
      ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, coarse_ms
                         ORDER BY fine_ms DESC) AS rf_d
    FROM fine
  ) GROUP BY exchange_id, symbol, coarse_ms
),
direct AS (
  SELECT exchange_id, symbol, coarse_ms,
         MAX(CASE WHEN rn_a = 1 THEN mid END) AS open_mid,
         MAX(mid) AS high_mid, MIN(mid) AS low_mid,
         MAX(CASE WHEN rn_d = 1 THEN mid END) AS close_mid,
         COUNT(*) AS n_snapshots
  FROM (
    SELECT *,
      ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, coarse_ms
                         ORDER BY ts_ms, raw_nonce) AS rn_a,
      ROW_NUMBER() OVER (PARTITION BY exchange_id, symbol, coarse_ms
                         ORDER BY ts_ms DESC, raw_nonce DESC) AS rn_d
    FROM mids
  ) GROUP BY exchange_id, symbol, coarse_ms
)
SELECT d.exchange_id, d.symbol, d.coarse_ms,
       d.open_mid, d.high_mid, d.low_mid, d.close_mid, d.n_snapshots,
       (d.open_mid IS NOT DISTINCT FROM x.open_mid
        AND d.high_mid IS NOT DISTINCT FROM x.high_mid
        AND d.low_mid IS NOT DISTINCT FROM x.low_mid
        AND d.close_mid IS NOT DISTINCT FROM x.close_mid
        AND d.n_snapshots IS NOT DISTINCT FROM x.n_snapshots) AS rollup_consistent
FROM derived d JOIN direct x USING (exchange_id, symbol, coarse_ms)
"""


@register("book_ohlc_rollup_ladder", _OHLC_LADDER_SQL)
def q_book_ohlc_rollup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical OHLC rollup — the timeseries-DB "continuous
    aggregate" property: 5-minute bars derived FROM 1-minute bars
    (open = first fine open, high = max, low = min, close = last fine
    close, count = sum) must equal 5-minute bars computed directly from
    ticks. This mergeability is what lets a 100 TB tape keep only fine
    bars and materialize every coarser resolution incrementally without
    re-reading ticks; ``rollup_consistent`` verifies it IN the gate
    (and the oracle replays both paths, so the hash pins the merge
    algebra itself). Windows at every level key on (instrument,
    bucket) — fine-bar merging touches bar counts, not tick counts."""
    book = synthetic_book(spark, sf_dir, depth=1)
    mid = ((F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)).alias("mid")
    mids = book.select(
        *KEYS,
        "ts_ms",
        "raw_nonce",
        mid,
        F.expr(f"ts_ms DIV {_FINE_MS} * {_FINE_MS}").alias("fine_ms"),
        F.expr(f"ts_ms DIV {_COARSE_MS} * {_COARSE_MS}").alias("coarse_ms"),
    )

    from market_microstructure_toolkit_spark.operators.bars import (
        ohlc_bars,
        rollup_ohlc,
    )

    fine = ohlc_bars(
        mids, "mid", ["coarse_ms", "fine_ms"], KEYS, ["ts_ms", "raw_nonce"]
    )
    derived = rollup_ohlc(fine, "coarse_ms", "fine_ms", KEYS)
    direct = ohlc_bars(
        mids, "mid", ["coarse_ms"], KEYS, ["ts_ms", "raw_nonce"]
    ).select(
        *KEYS,
        "coarse_ms",
        F.col("o").alias("x_open"),
        F.col("h").alias("x_high"),
        F.col("l").alias("x_low"),
        F.col("c").alias("x_close"),
        F.col("n").alias("x_n"),
    )
    j = derived.join(direct, [*KEYS, "coarse_ms"])
    # NULL-SAFE equality: a bar whose open/close tick has a NULL mid
    # (empty-ask plants) must still verify as consistent, not NULL out
    consistent = (
        F.col("open_mid").eqNullSafe(F.col("x_open"))
        & F.col("high_mid").eqNullSafe(F.col("x_high"))
        & F.col("low_mid").eqNullSafe(F.col("x_low"))
        & F.col("close_mid").eqNullSafe(F.col("x_close"))
        & F.col("n_snapshots").eqNullSafe(F.col("x_n"))
    )
    return j.select(
        *KEYS,
        "coarse_ms",
        "open_mid",
        "high_mid",
        "low_mid",
        "close_mid",
        "n_snapshots",
        consistent.alias("rollup_consistent"),
    )


_VOLUME_CURVE_SQL = f"""{_BOOK_CTE},
trades AS ({trades_sql()}),
q AS (
  SELECT exchange_id, symbol,
         CAST(ts_ms // 86400000 AS BIGINT) AS day,
         CAST((ts_ms % 86400000) // 3600000 AS BIGINT) AS hour_of_day,
         floor(price * qty * 1024.0 + 0.5) / 1024.0 AS notional_q
  FROM trades
),
hourly AS (
  SELECT exchange_id, symbol, day, hour_of_day,
         SUM(notional_q) AS v
  FROM q GROUP BY exchange_id, symbol, day, hour_of_day
),
daily AS (
  SELECT exchange_id, symbol, day, SUM(v) AS tot
  FROM hourly GROUP BY exchange_id, symbol, day
)
SELECT h.exchange_id, h.symbol, h.hour_of_day,
       ROUND(SUM(h.v / d.tot) / COUNT(*), 6) AS avg_share,
       COUNT(*) AS n_days
FROM hourly h JOIN daily d USING (exchange_id, symbol, day)
GROUP BY h.exchange_id, h.symbol, h.hour_of_day
"""


@register("trade_volume_curve", _VOLUME_CURVE_SQL)
def q_trade_volume_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday volume curve — THE input to VWAP scheduling (the
    vwap sims' proxy weights model exactly this): each hour-of-day's
    share of its day's notional, averaged across days per instrument.
    Hourly and daily notionals are exact (quantized summands), each
    day's shares sum to 1 by construction, and only the cross-day mean
    is rounded. Two partial-aggregated groupBys co-keyed on the
    instrument; the hourly->daily join is instrument-day keyed (tiny).
    At 100 TB the curve is computed once per estimation window and
    broadcast to every execution simulation."""
    trades = synthetic_trades(spark, sf_dir)
    nq = (
        F.floor(F.col("price") * F.col("qty") * F.lit(1024.0) + F.lit(0.5))
        / F.lit(1024.0)
    )
    q = trades.select(
        *KEYS,
        F.expr("ts_ms DIV 86400000").alias("day"),
        F.expr("(ts_ms % 86400000) DIV 3600000").alias("hour_of_day"),
        nq.alias("notional_q"),
    )
    hourly = q.groupBy(*KEYS, "day", "hour_of_day").agg(
        F.sum("notional_q").alias("v")
    )
    daily = hourly.groupBy(*KEYS, "day").agg(F.sum("v").alias("tot"))
    return (
        hourly.join(daily, [*KEYS, "day"])
        .groupBy(*KEYS, "hour_of_day")
        .agg(
            F.round(
                F.sum(F.col("v") / F.col("tot")) / F.count(F.lit(1)), 6
            ).alias("avg_share"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


_ASOF_TOL_MS = 5_000


_ASOF_TOL_SQL = f"""{_BOOK_CTE},
grid AS (
  SELECT exchange_id, symbol,
         ts_ms + (raw_nonce % 7) * 1000 AS grid_ts
  FROM book
),
m AS (
  -- nonce-dedup duplicate-ts snapshots (last written wins): the
  -- union-carry resolves same-ts ties to the HIGHEST raw_nonce, while
  -- a plain ASOF JOIN picks arbitrarily among ties — divergence first
  -- appears at sf1 density, where ms-truncated timestamps collide
  SELECT exchange_id, symbol, ts_ms AS src_ts,
         (best_bid + best_ask) / 2.0 AS mid
  FROM book
  QUALIFY row_number() OVER (PARTITION BY exchange_id, symbol, ts_ms
                             ORDER BY raw_nonce DESC) = 1
),
j AS (
  SELECT g.exchange_id, g.symbol, g.grid_ts, m.src_ts, m.mid
  FROM grid g ASOF LEFT JOIN m
    ON g.exchange_id = m.exchange_id AND g.symbol = m.symbol
   AND m.src_ts <= g.grid_ts
)
SELECT exchange_id, symbol, grid_ts,
       src_ts IS NOT NULL AND grid_ts - src_ts <= {_ASOF_TOL_MS} AS matched,
       CASE WHEN grid_ts - src_ts <= {_ASOF_TOL_MS} THEN mid END AS mid,
       CASE WHEN grid_ts - src_ts <= {_ASOF_TOL_MS}
            THEN grid_ts - src_ts END AS staleness_ms
FROM j
"""


@register("book_asof_tolerance", _ASOF_TOL_SQL)
def q_book_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a MAX-STALENESS tolerance — the variant every
    production as-of API grows (pandas merge_asof's ``tolerance``,
    kdb's wj window bound): a probe matches the latest snapshot
    at-or-before it ONLY if that snapshot is at most 5 s old; staler
    prevailing state returns NULL (a quote from minutes ago is not a
    fill-able price). Probes are the tick grid jittered 0-6 s by nonce,
    so both branches are exercised against the 5 s bound with pure
    integer staleness arithmetic. Rides the join-free
    asof_backward_union (tag + union + one keyed window), with the
    tolerance applied as a post-filter on the carried source timestamp;
    oracle = DuckDB ASOF LEFT JOIN + the same bound."""
    from market_microstructure_toolkit_spark.operators.asof import (
        asof_backward_union,
    )

    book = synthetic_book(spark, sf_dir, depth=1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    snaps = book.select(
        *KEYS, "ts_ms", "raw_nonce", mid.alias("mid")
    )
    grid = book.select(
        *KEYS,
        (F.col("ts_ms") + (F.col("raw_nonce") % 7) * F.lit(1000)).alias(
            "grid_ts"
        ),
    )
    picked = asof_backward_union(
        snaps,
        grid,
        keys=KEYS,
        ts_col="ts_ms",
        value_cols=("mid",),
        target_ts_col="grid_ts",
        # measured: THIS union's carry is so narrow
        # (one double) that the plain 4-task window beats the segmented
        # machinery 8x at 2.5M rows/key (1.1s vs 8.6s at sf10), unlike
        # the sibling as-of gates where segmented wins 1.7-2.3x at the
        # same size — dispatch at 4x the default threshold instead
        segmented=book_rows_per_key(sf_dir) > 4 * W.SEG_THRESHOLD_ROWS,
    )
    # picked carries the probe time as ts_ms (the union's ts_col) and the
    # matched snapshot's timestamp as src_ts_ms
    stale = F.col("ts_ms") - F.col("src_ts_ms") > _ASOF_TOL_MS
    fresh = F.col("src_ts_ms").isNotNull() & ~stale
    return picked.select(
        *KEYS,
        F.col("ts_ms").alias("grid_ts"),
        fresh.alias("matched"),
        F.when(fresh, F.col("mid")).alias("mid"),
        F.when(fresh, F.col("ts_ms") - F.col("src_ts_ms")).alias(
            "staleness_ms"
        ),
    )


_COST_CURVE_SIZES = (1.0, 3.0, 5.0, 10.0)


def _cost_curve_sql() -> str:
    arms = []
    for q in _COST_CURVE_SIZES:
        w = _walk_exprs(repr(q), BOOK_DEPTH)
        arms.append(
            f"SELECT exchange_id, symbol, CAST({q!r} AS DOUBLE) AS q,\n"
            f"  ({w['filled']}) AS filled, ({w['cost']}) AS cost,\n"
            f"  (best_bid + best_ask) / 2.0 AS mid\nFROM book"
        )
    walked = "\nUNION ALL\n".join(arms)
    return f"""{_BOOK_CTE},
walked AS (
{walked}
)
SELECT exchange_id, symbol, q,
  CAST(SUM(CASE WHEN filled = q THEN 1 ELSE 0 END) AS BIGINT) AS n_full_fills,
  ROUND(SUM(CASE WHEN filled = q
                 THEN ((cost / filled) - mid) / mid * 10000.0 END)
        / NULLIF(SUM(CASE WHEN filled = q THEN 1 ELSE 0 END), 0), 6)
    AS avg_premium_bps
FROM walked GROUP BY exchange_id, symbol, q
"""


@register("book_cost_curve", _cost_curve_sql())
def q_book_cost_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Liquidity cost curve — the walk-the-book premium as a FUNCTION of
    trade size (1/3/5/10 units): the average bps paid over mid for a
    marketable order that fully fills, per instrument per size. This is
    the liquidity surface an execution desk quotes from (and the
    concave shape — premium growing with size — is the fixture's
    deepest-level check on the X2 ladder fold). All four sizes walk the
    SAME validated ladder per row (the array materializes once behind
    the explode barrier), unpivot in-plan, then one grouped aggregate;
    partial fills are excluded (cost of an unfilled remainder is not a
    price). Shuffle-free until the final instrument-keyed rollup."""
    from market_microstructure_toolkit_spark.functions.arrays import (
        ladder_from_wide,
        valid_levels,
        walk_book,
    )

    book = synthetic_book(spark, sf_dir)
    ladder = valid_levels(ladder_from_wide("ask", BOOK_DEPTH))
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    walked = book.select(
        *KEYS,
        mid.alias("mid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        walk_book(ladder, q).alias("w"),
                    )
                    for q in _COST_CURVE_SIZES
                ]
            )
        ).alias("e"),
    ).select(
        *KEYS,
        "mid",
        F.col("e.q").alias("q"),
        F.col("e.w.filled").alias("filled"),
        F.col("e.w.cost").alias("cost"),
    )
    full = F.col("filled") == F.col("q")
    prem = (
        (F.col("cost") / F.col("filled") - F.col("mid"))
        / F.col("mid")
        * F.lit(10000.0)
    )
    return walked.groupBy(*KEYS, "q").agg(
        F.sum(full.cast("long")).alias("n_full_fills"),
        F.round(
            F.sum(F.when(full, prem))
            / F.nullif(F.sum(full.cast("long")), F.lit(0)),
            6,
        ).alias("avg_premium_bps"),
    )


def _depth_evo_sql() -> str:
    """Oracle for book_depth_evolution: the depth-5 book with levels 4-5
    NULLed on the first (depth-3-recorded) half, then the same per-row
    depth metrics. The cut is integer midpoint of ts_ms — identical
    floor-division arithmetic on both engines."""
    n_bid = " + ".join(
        f"CASE WHEN e.bid{i}_price IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(1, 6)
    )
    n_ask = " + ".join(
        f"CASE WHEN e.ask{i}_price IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(1, 6)
    )
    bid_qty = " + ".join(f"COALESCE(e.bid{i}_size, 0.0)" for i in range(1, 6))
    ask_qty = " + ".join(f"COALESCE(e.ask{i}_size, 0.0)" for i in range(1, 6))
    effective = ",\n".join(
        f"    CASE WHEN b.ts_ms <= c.cut THEN NULL ELSE b.bid{i}_price END AS bid{i}_price,\n"
        f"    CASE WHEN b.ts_ms <= c.cut THEN NULL ELSE b.bid{i}_size END AS bid{i}_size,\n"
        f"    CASE WHEN b.ts_ms <= c.cut THEN NULL ELSE b.ask{i}_price END AS ask{i}_price,\n"
        f"    CASE WHEN b.ts_ms <= c.cut THEN NULL ELSE b.ask{i}_size END AS ask{i}_size"
        for i in range(4, 6)
    )
    return f"""{_BOOK_CTE},
cutoff AS (SELECT (MIN(ts_ms) + MAX(ts_ms)) // 2 AS cut FROM book),
evolved AS (
  SELECT b.exchange_id, b.symbol, b.ts_ms, b.raw_nonce,
    CASE WHEN b.ts_ms <= c.cut THEN 'depth3' ELSE 'depth5' END AS recorder,
    b.bid1_price, b.bid1_size, b.ask1_price, b.ask1_size,
    b.bid2_price, b.bid2_size, b.ask2_price, b.ask2_size,
    b.bid3_price, b.bid3_size, b.ask3_price, b.ask3_size,
{effective}
  FROM book b CROSS JOIN cutoff c
)
SELECT e.exchange_id, e.symbol, e.ts_ms, e.raw_nonce, e.recorder,
       CAST({n_bid} AS BIGINT) AS n_bid_levels,
       CAST({n_ask} AS BIGINT) AS n_ask_levels,
       {bid_qty} AS bid_depth_qty,
       {ask_qty} AS ask_depth_qty
FROM evolved e
"""


@register("book_depth_evolution", _depth_evo_sql())
def q_book_depth_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Book-side schema evolution: a recording whose depth K GROWS
    mid-stream — the first half of the tape written by a depth-3
    recorder, the second by a depth-5 one (the reference infers depth
    by probing columns until missing, ``impact_twap.py:78-98``; our
    schema-based twin is ``schema.py:infer_depth``). The two segments
    are written as separate parquet recordings and unioned via
    ``mergeSchema`` footer-level reconciliation; ``infer_depth`` on the
    merged frame returns the MAX depth (5), and depth-K metrics
    null-propagate on the never-recorded levels: level-presence counts
    top out at 3 on the old segment and the depth-quantity sums (sizes
    are exact 0.25 multiples — order-free) simply omit the missing
    levels. At 100 TB this is the footer-only merge path: no data
    rewrite when a feed upgrade widens the schema, old files read with
    NULL columns."""
    from market_microstructure_toolkit_spark.schema import infer_depth

    # ts range from parquet ROW-GROUP STATISTICS (round 14, r13 verdict
    # #1: the round-13 full-column pyarrow pull decoded the whole ts
    # column in driver memory — terabytes at 100 TB; timestamp min/max
    # stats are exact physical INT64, so the range needs NO decode at
    # all). This gate reads ts UNPLANTED; min/max of ts_ms = min/max(ts)
    # DIV 1e6 (integer DIV is monotone and the epoch ticks are
    # non-negative, so truncating and flooring division agree) — same
    # unit-adaptive per-ms handling as before (TIMESTAMP MICROS/NANOS
    # fixtures both occur). Spark fallback on NULLs/negatives/missing
    # stats or read surprise.
    cut = None
    try:
        rng = parquet_ts_range(f"{sf_dir}/events.parquet")
        if rng is not None:
            lo, hi, per_ms = rng
            if lo >= 0 and per_ms > 0:
                cut = (lo // per_ms + hi // per_ms) // 2
    except Exception:  # pragma: no cover - exercised only on odd files
        cut = None
    if cut is None:
        ev = read_events(spark, sf_dir).select(
            F.expr("ts DIV 1000000").alias("ts_ms")
        )
        rng = ev.agg(
            F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")
        ).collect()[0]
        cut = (rng["lo"] + rng["hi"]) // 2

    base = _scratch(prefix="mmt_depth_evo_")
    synthetic_book(spark, sf_dir, depth=3).filter(F.col("ts_ms") <= cut).write.parquet(
        f"{base}/rec_a"
    )
    synthetic_book(spark, sf_dir, depth=5).filter(F.col("ts_ms") > cut).write.parquet(
        f"{base}/rec_b"
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/rec_a", f"{base}/rec_b"
    )
    k = infer_depth(merged)
    if k != 5:
        raise ValueError(f"depth evolution merge lost levels: inferred {k}")
    n_bid = sum(
        (F.col(f"bid{i}_price").isNotNull().cast("long") for i in range(1, k + 1)),
        start=F.lit(0).cast("long"),
    )
    n_ask = sum(
        (F.col(f"ask{i}_price").isNotNull().cast("long") for i in range(1, k + 1)),
        start=F.lit(0).cast("long"),
    )
    bid_qty = sum(
        (F.coalesce(F.col(f"bid{i}_size"), F.lit(0.0)) for i in range(1, k + 1)),
        start=F.lit(0.0),
    )
    ask_qty = sum(
        (F.coalesce(F.col(f"ask{i}_size"), F.lit(0.0)) for i in range(1, k + 1)),
        start=F.lit(0.0),
    )
    return merged.select(
        "exchange_id",
        "symbol",
        "ts_ms",
        "raw_nonce",
        F.when(F.col("ts_ms") <= cut, F.lit("depth3"))
        .otherwise(F.lit("depth5"))
        .alias("recorder"),
        n_bid.alias("n_bid_levels"),
        n_ask.alias("n_ask_levels"),
        bid_qty.alias("bid_depth_qty"),
        ask_qty.alias("ask_depth_qty"),
    )
