"""Deterministic synthetic L2 book derived from the driver's ``events``
table — the shared fixture for every book-metric oracle query.

The reference operates on recorded snapshot files; the driver's correctness
gate runs on its synthetic TPC-H-ish tables. Bridge: derive an F1-shaped
book (FIXTURES.md §F1, depth 5) from ``events`` using ONLY per-row integer
modulus and IEEE-754 double arithmetic, so Spark and DuckDB produce
bit-identical values and the driver's value-hash comparison is exact.

Derivation (one snapshot row per event; 4 symbols partitioned by user_id):

- ``ts_ms   = epoch millis of ts``; ties broken by ``raw_nonce = event_id``
- ``mid0    = 100.0 + value * 0.1``; ``spr = 0.02 + (event_id % 5) * 0.01``
- ``best_bid/best_ask = mid0 -/+ spr * 0.5``
- level i: price offset ``(i-1) * 0.05`` from L1, size
  ``1.0 + ((event_id + i*7|i*11) % 13) * 0.25``
- NULL padding: level i >= 2 entirely NULL when ``(event_id + i) % 17 == 0``
  (the reference's blank-pad case); L1 sizes NULL when
  ``event_id % 97 == 0`` (microprice/imbalance null paths).

Guard-branch plants (round 7): rare pathological rows so every
driver-visible hash also pins the guard semantics, not just the happy
path. Independent predicates on large primes — they compose
deterministically when residues coincide at big SFs:

- CROSSED book (``event_id % 487 == 486``): spread sign flips, so
  ``best_bid > best_ask`` (P5 strict guard -> NULL rel spread).
- LOCKED book (``event_id % 491 == 490``): spread 0.0, ``bid == ask``.
- EMPTY ASK SIDE (``event_id % 499 == 498``): ``best_ask`` and every
  ask level NULL (P2/P7 NULL propagation, book_vamp one-sided path,
  NULL mid feeding the as-of atomic-carry path).
- THIN LADDER (``event_id % 503 == 502``): every level >= 2 NULL on
  both sides (walk partial fill, cost-curve exclusion).

``SPARK_GRAFT_PLANTS=0`` (round-8 verdict #1) disables the four plant
predicates in BOTH the Spark and DuckDB derivations — a BENCH-ONLY
A/B control to separate the plants' real semantic cost from machine
variance in round-over-round comparisons. Correctness artifacts are
always recorded with plants ON (the default); the env var is read at
derivation/SQL-build time, so set it before importing the plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BOOK_DEPTH = 5

#: Key literals of the book derivation, shared with the metadata-hint
#: helpers in plans/base.py (book_symbol_group_counts) so the hint's key
#: shape and the derivation's literals move together (r13 ADVICE): every
#: book row carries exchange_id = BOOK_EXCHANGE_ID and
#: symbol = BOOK_SYMBOL_PREFIX || (user_id % 4).
BOOK_EXCHANGE_ID = "sim"
BOOK_SYMBOL_PREFIX = "S"


def _plants_on() -> bool:
    return os.environ.get("SPARK_GRAFT_PLANTS", "1") != "0"

#: Window-order columns giving a total order per symbol (ts_ms can tie
#: after millisecond truncation; event_id is unique).
ORDER_COLS = ["ts_ms", "raw_nonce"]


#: Book plans already built, keyed by (session, events file identity,
#: depth, plants toggle). Bounded: a process that walks many fixtures or
#: sessions drops its oldest plans first.
_BOOK_MEMO: dict[tuple, DataFrame] = {}
_BOOK_MEMO_MAX = 32


def synthetic_book(spark: SparkSession, sf_dir: str, depth: int = BOOK_DEPTH) -> DataFrame:
    """events.parquet -> wide depth-K book frame (Spark side).

    Memoized per session: every book gate reads this same frame, so the
    plan (the parquet schema read, the ``spread`` decision, the Column
    tree) is built once per (session, events file identity, depth,
    plants toggle) and shared. Only the plan is shared, never data: the
    frame is not cached, and each action re-reads the file. The key
    holds everything the plan's rows depend on: another session, a rewritten
    ``events.parquet`` (new size or mtime), another depth or a flipped
    ``SPARK_GRAFT_PLANTS`` builds afresh. The session's required confs
    are applied on every call, hit or miss."""
    from market_microstructure_toolkit_spark.session import ensure_session_confs
    from market_microstructure_toolkit_spark.sources.parquet_meta import identity

    ensure_session_confs(spark)
    ident = identity(f"{sf_dir}/events.parquet")
    if ident is None:
        return _build_book(spark, sf_dir, depth)
    key = (spark, ident, depth, _plants_on())
    book = _BOOK_MEMO.get(key)
    if book is None:
        book = _build_book(spark, sf_dir, depth)
        while len(_BOOK_MEMO) >= _BOOK_MEMO_MAX:
            del _BOOK_MEMO[next(iter(_BOOK_MEMO))]
        _BOOK_MEMO[key] = book
    return book


def _build_book(spark: SparkSession, sf_dir: str, depth: int) -> DataFrame:
    from market_microstructure_toolkit_spark.partitioning import spread
    from market_microstructure_toolkit_spark.sources.events import read_events

    # events.parquet ts is TIMESTAMP(NANOS); read_events normalizes it to
    # epoch-nanos BIGINT whatever type the session's reader surfaces.
    # spread BEFORE the expression-heavy derivation: a single-file
    # parquet is one input split, which would put ~27 columns of per-row
    # arithmetic on one core. spread() gives the derivation at least
    # defaultParallelism partitions for the price of one exchange of the
    # 5 narrow source columns, and is a no-op when the input already
    # arrives split that finely.

    ev = spread(read_events(spark, sf_dir))
    eid = F.col("event_id")
    mid0 = F.lit(100.0) + F.col("value") * F.lit(0.1)
    spr_base = F.lit(0.02) + (eid % 5).cast("double") * F.lit(0.01)
    # Guard plants: crossed (negated spread), locked (zero spread).
    plants = _plants_on()
    spr = (
        F.when(eid % 487 == 486, -spr_base)
        .when(eid % 491 == 490, F.lit(0.0))
        .otherwise(spr_base)
        if plants
        else spr_base
    )
    # STAGED projection: compute spr/best quotes/plant flags ONCE as
    # attributes. Built inline, every output column re-inlines the
    # full spr CASE (~22 copies x several modulos per row — measured
    # 4.2x slower at sf1); as multi-referenced non-cheap aliases,
    # Catalyst's CollapseProject keeps them single-evaluation.
    ev = ev.select(
        "*",
        spr.alias("__spr"),
        ((eid % 499 == 498) if plants else F.lit(False)).alias("__empty_ask"),
        ((eid % 503 == 502) if plants else F.lit(False)).alias("__thin"),
    ).select(
        "*",
        (mid0 - F.col("__spr") * F.lit(0.5)).alias("__bb"),
        (mid0 + F.col("__spr") * F.lit(0.5)).alias("__ba"),
    )
    best_bid = F.col("__bb")
    best_ask = F.col("__ba")
    empty_ask = F.col("__empty_ask")
    thin = F.col("__thin")

    cols = {
        # ts arrives as epoch-nanos (nanosAsLong read); integer-div to
        # millis — matches DuckDB's nanos->micros->epoch_ms flooring.
        "ts_ms": F.expr("ts DIV 1000000"),
        "exchange_id": F.lit(BOOK_EXCHANGE_ID),
        "symbol": F.concat(
            F.lit(BOOK_SYMBOL_PREFIX), (F.col("user_id") % 4).cast("string")
        ),
        "book_level": F.lit("L2"),
        "raw_nonce": eid,
        "best_bid": best_bid,
        "best_ask": F.when(~empty_ask, best_ask),
    }
    l1_sizes_null = eid % 97 == 0
    for i in range(1, depth + 1):
        pad_null = (F.lit(i >= 2) & ((eid + i) % 17 == 0)) | (
            F.lit(i >= 2) & thin
        )
        bp = best_bid if i == 1 else best_bid - F.lit((i - 1) * 0.05)
        ap = best_ask if i == 1 else best_ask + F.lit((i - 1) * 0.05)
        bs = F.lit(1.0) + ((eid + i * 7) % 13).cast("double") * F.lit(0.25)
        asz = F.lit(1.0) + ((eid + i * 11) % 13).cast("double") * F.lit(0.25)
        if i == 1:
            bs = F.when(~l1_sizes_null, bs)
            asz = F.when(~l1_sizes_null, asz)
        cols[f"bid{i}_price"] = F.when(~pad_null, bp)
        cols[f"bid{i}_size"] = F.when(~pad_null, bs)
        cols[f"ask{i}_price"] = F.when(~(pad_null | empty_ask), ap)
        cols[f"ask{i}_size"] = F.when(~(pad_null | empty_ask), asz)
    return ev.select(*[v.alias(k) for k, v in cols.items()])


def book_sql(depth: int = BOOK_DEPTH) -> str:
    """The identical derivation as DuckDB SQL (for oracle CTEs);
    honors SPARK_GRAFT_PLANTS like :func:`synthetic_book` (evaluated
    when the SQL string is built, i.e. at plans-module import)."""
    plants = _plants_on()
    empty_ask = "event_id % 499 = 498" if plants else "FALSE"
    thin = "event_id % 503 = 502" if plants else "FALSE"
    level_cols = []
    for i in range(1, depth + 1):
        if i == 1:
            null_size = "event_id % 97 = 0"
            level_cols.append(
                f"  best_bid AS bid1_price,\n"
                f"  CASE WHEN NOT ({null_size}) THEN 1.0 + CAST((event_id + 7) % 13 AS DOUBLE) * 0.25 END AS bid1_size,\n"
                f"  CASE WHEN NOT ({empty_ask}) THEN best_ask END AS ask1_price,\n"
                f"  CASE WHEN NOT ({null_size} OR {empty_ask}) THEN 1.0 + CAST((event_id + 11) % 13 AS DOUBLE) * 0.25 END AS ask1_size"
            )
        else:
            pad = f"((event_id + {i}) % 17 = 0 OR {thin})"
            level_cols.append(
                f"  CASE WHEN NOT {pad} THEN best_bid - {(i - 1) * 0.05!r} END AS bid{i}_price,\n"
                f"  CASE WHEN NOT {pad} THEN 1.0 + CAST((event_id + {i * 7}) % 13 AS DOUBLE) * 0.25 END AS bid{i}_size,\n"
                f"  CASE WHEN NOT ({pad} OR {empty_ask}) THEN best_ask + {(i - 1) * 0.05!r} END AS ask{i}_price,\n"
                f"  CASE WHEN NOT ({pad} OR {empty_ask}) THEN 1.0 + CAST((event_id + {i * 11}) % 13 AS DOUBLE) * 0.25 END AS ask{i}_size"
            )
    levels = ",\n".join(level_cols)
    spr_sql = (
        """CASE WHEN event_id % 487 = 486
             THEN -(0.02 + CAST(event_id % 5 AS DOUBLE) * 0.01)
           WHEN event_id % 491 = 490 THEN 0.0
           ELSE 0.02 + CAST(event_id % 5 AS DOUBLE) * 0.01
      END"""
        if plants
        else "0.02 + CAST(event_id % 5 AS DOUBLE) * 0.01"
    )
    return f"""
SELECT
  epoch_ms(ts) AS ts_ms,
  '{BOOK_EXCHANGE_ID}' AS exchange_id,
  '{BOOK_SYMBOL_PREFIX}' || CAST(user_id % 4 AS VARCHAR) AS symbol,
  'L2' AS book_level,
  event_id AS raw_nonce,
  best_bid,
  CASE WHEN NOT ({empty_ask}) THEN best_ask END AS best_ask,
{levels}
FROM (
  SELECT *,
    (100.0 + value * 0.1) - spr * 0.5 AS best_bid,
    (100.0 + value * 0.1) + spr * 0.5 AS best_ask
  FROM (
    SELECT *, {spr_sql} AS spr
    FROM events
  )
)
"""


def synthetic_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic trade tape riding the book derivation —
    one print per snapshot, price offset from the prevailing mid by a
    signed multiple of the quoted spread so the tape exercises every
    Lee-Ready branch (above / below / exactly at the mid):

    - ``mid   = (best_bid + best_ask) / 2.0``
    - ``price = mid + (CAST(raw_nonce % 7 AS DOUBLE) - 3.0)
      * ((best_ask - best_bid) * 0.25)`` — offsets of -0.75..+0.75
      spreads in quarter-spread steps; ``raw_nonce % 7 == 3`` lands the
      print exactly on the mid (tick-rule fallback path).
    - ``qty   = 0.5 + CAST(raw_nonce % 9 AS DOUBLE) * 0.5`` — exact
      binary fractions, so cumulative-volume sums are order-free exact.

    All ops are IEEE-754 add/mul/div in an identical association on both
    engines -> bit-exact vs. the DuckDB :func:`trades_sql` twin.
    """
    book = synthetic_book(spark, sf_dir, depth=1)
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    off = (
        (F.col("raw_nonce") % 7).cast("double") - F.lit(3.0)
    ) * ((F.col("best_ask") - F.col("best_bid")) * F.lit(0.25))
    qty = F.lit(0.5) + (F.col("raw_nonce") % 9).cast("double") * F.lit(0.5)
    return book.select(
        "exchange_id",
        "symbol",
        "ts_ms",
        "raw_nonce",
        mid.alias("mid"),
        (mid + off).alias("price"),
        qty.alias("qty"),
    )


def trades_sql() -> str:
    """The identical trade-tape derivation as DuckDB SQL (for oracle
    CTEs); compose as ``WITH book AS (...), trades AS (<this>)``."""
    return """
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  (best_bid + best_ask) / 2.0 AS mid,
  (best_bid + best_ask) / 2.0
    + (CAST(raw_nonce % 7 AS DOUBLE) - 3.0)
      * ((best_ask - best_bid) * 0.25) AS price,
  0.5 + CAST(raw_nonce % 9 AS DOUBLE) * 0.5 AS qty
FROM book
"""
