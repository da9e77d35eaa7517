"""Shared gate-registry infrastructure: the REGISTRY, the register
decorator (required-conf wrapper), scratch/tape helpers for streaming
replays, fixture loaders, and the SQL fragments shared across domains.
See plans/queries.py for the determinism rules every oracle follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from market_microstructure_toolkit_spark.functions import arrays as A
from market_microstructure_toolkit_spark.plans.book import book_sql
from market_microstructure_toolkit_spark.plans.book import synthetic_book
from market_microstructure_toolkit_spark.plans.book import synthetic_trades
from market_microstructure_toolkit_spark.plans.book import trades_sql
from market_microstructure_toolkit_spark.sources.parquet_meta import column_chunks
from market_microstructure_toolkit_spark.sources.parquet_meta import identity
from market_microstructure_toolkit_spark.sources.parquet_meta import part_files
from market_microstructure_toolkit_spark.sources.parquet_meta import row_group_stats
from collections.abc import Callable
from dataclasses import dataclass


KEYS = ("exchange_id", "symbol")


IDS = ["exchange_id", "symbol", "ts_ms", "raw_nonce"]


_BOOK_CTE = f"WITH book AS ({book_sql()})"


_W = "PARTITION BY exchange_id, symbol ORDER BY ts_ms, raw_nonce"


@dataclass(frozen=True)


class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None -> rows-only check (non-SQL-expressible)


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, sql: str | None):
    """Register a gate query; the stored callable is wrapped so required
    runtime confs (nanos-parquet reads, UTC tz) are applied to WHATEVER
    SparkSession the harness passes in — gate queries must never depend on
    the repo's own session factory having built the session."""

    def deco(fn):
        import functools

        from market_microstructure_toolkit_spark.session import (
            ensure_session_confs,
        )

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(spark=wrapped, sql=sql)
        return fn

    return deco


def q2k_col(c, k: int):
    """Quantize a double Column to multiples of 2^-k (round-half-up via
    floor(x*2^k + 0.5)) BEFORE an order-sensitive sum/mean: sums of such
    binary fractions are exact in ANY accumulation order (while partial
    sums stay under 2^(53-k)), so AVG/SUM reductions stop being one-ulp-
    from-a-ROUND-boundary time bombs (a raw ROUND(AVG(double), 6) holds
    only by luck until a partition/order change flips a boundary
    value). Pick k so quantum << value scale and
    n_rows * max|value| < 2^(53-k)."""
    s = float(2**k)
    return F.floor(c * F.lit(s) + F.lit(0.5)) / F.lit(s)


def q2k_sql(expr: str, k: int) -> str:
    """DuckDB twin of :func:`q2k_col` (bare decimal literal is fine in
    DuckDB; Spark-side code must use q2k_col, not this string)."""
    s = 2**k
    return f"floor(({expr}) * {s}.0 + 0.5) / {s}.0"


def parquet_rows(path: str) -> int:
    """Footer-only rowcount of a parquet file, directory of part files
    or chunk-dir glob (see :func:`part_files`) — a metadata pull (no
    Spark job, no data scan), the same signal ``_tape_parts`` sizes
    streaming state by. Used to size-dispatch the plain-vs-segmented
    window paths per key."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in part_files(path))


def parquet_col_range(path: str, col: str) -> tuple[int, int] | None:
    """(min, max) of an INTEGER column straight from the parquet
    ROW-GROUP STATISTICS of a file, directory of part files or chunk-dir
    glob — a metadata pull, no Spark job. Integer min/max stats are
    exact (no string-truncation caveat), so on success this equals
    ``agg(min(col), max(col))`` over the raw scan. Returns None when
    there are no files, the column is missing, any row group lacks
    stats, or the column's logical values are not integers (DECIMAL,
    DATE and TIMESTAMP statistics are, only in their raw form); the
    caller falls back to the Spark aggregate. Only valid for columns the
    planted projections pass through UNCHANGED (doc_id, event_id, ts) —
    never for derived or plant-modified columns."""
    stats = row_group_stats(part_files(path), col)
    if not stats:
        return None
    lo = [st.min for st in stats]
    hi = [st.max for st in stats]
    if not all(isinstance(v, int) for v in lo + hi):
        return None
    return min(lo), max(hi)


# perfbench/tracing.py binds these two names with getattr: keep them.
_glob_parquet_rows = parquet_rows
_glob_parquet_col_range = parquet_col_range


#: Ceiling for DRIVER-side column decodes — the size gate every
#: full-column pyarrow pull must pass. A driver pull is fast where a
#: distributed scan would schedule a job, but fatal at 100 TB (a 2 TB ts
#: column concatenated in driver memory is an OOM, not an optimization).
#: 128 MB of uncompressed column bytes / 50M rows sits comfortably above
#: every local fixture and far below driver-heap territory.
PULL_MAX_BYTES = 128 * 1024**2
PULL_MAX_ROWS = 50_000_000


def _column_pull_fits(files: list[str], col: str) -> bool:
    """Footer-metadata size gate for a driver-side decode of ``col``:
    True iff the column's total UNCOMPRESSED byte size and the total
    rowcount sit at or under :data:`PULL_MAX_BYTES` /
    :data:`PULL_MAX_ROWS`. Reads only footers (free — the same metadata
    the rowcount hints already read); False also when the column is
    missing, so callers fall back to their Spark path."""
    chunks = column_chunks(files, col)
    if chunks is None:
        return False
    rows = sum(n for n, _ in chunks)
    nbytes = sum(c.total_uncompressed_size for _, c in chunks)
    return rows <= PULL_MAX_ROWS and nbytes <= PULL_MAX_BYTES


def parquet_column(path: str, col: str):
    """ONE column of a parquet file (or dir of part files) as a pyarrow
    ChunkedArray — an in-process columnar pull for planning constants:
    a gate that needs min/max/distinct of a single source column pays a
    C++ column decode (~ms on the fixture files, one core) instead of a
    full scheduled Spark job per invocation. Computed from the parquet
    input on EVERY call — this is a cheaper scan, not a cache. Only
    valid for columns the planted projections pass through UNCHANGED;
    callers must fall back to the Spark aggregate when the column's
    semantics differ from the raw file's.

    SIZE-GATED: raises ValueError when the column's footer-metadata
    size exceeds :data:`PULL_MAX_BYTES` / :data:`PULL_MAX_ROWS` — every
    caller wraps this in try/except with a distributed Spark fallback,
    so an over-threshold input (the 100 TB case) takes the scale-safe
    aggregate instead of concatenating terabytes in driver memory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = part_files(path)
    if not _column_pull_fits(files, col):
        raise ValueError(
            f"parquet_column[{path}:{col}]: over the driver-pull size "
            "gate — use the distributed fallback"
        )
    tabs = [pq.read_table(f, columns=[col]) for f in files]
    return pa.concat_tables(tabs)[col]


#: ticks per millisecond of the TIMESTAMP units parquet_ts_range accepts
_TICKS_PER_MS = {"ms": 1, "us": 1_000, "ns": 1_000_000}


def parquet_ts_range(path: str) -> tuple[int, int, int] | None:
    """(min, max) of the raw events ``ts`` TIMESTAMP column in the
    column's OWN unit ticks, plus ticks-per-millisecond, straight from
    parquet row-group statistics — ``(lo, hi, per_ms)`` with NO column
    decode at all (timestamps are physical INT64 whose min/max
    statistics are exact). Returns None (caller falls back to the Spark
    aggregate) when the column is missing/not a timestamp, its unit is
    coarser than milliseconds, any row group lacks exact stats, any
    NULLs exist (mirroring the pull path's null_count==0 requirement),
    or units disagree across part files."""
    import pyarrow.parquet as pq

    files = part_files(path)
    units = set()
    for f in files:
        try:
            units.add(pq.ParquetFile(f).schema_arrow.field("ts").type.unit)
        except (KeyError, AttributeError):
            return None
    stats = row_group_stats(files, "ts")
    if len(units) != 1 or not stats:
        return None
    per_ms = _TICKS_PER_MS.get(units.pop())
    if per_ms is None or any(
        not st.has_null_count or st.null_count != 0 for st in stats
    ):
        return None
    lo = [st.min_raw for st in stats]  # physical INT64 ticks
    hi = [st.max_raw for st in stats]
    if not all(isinstance(v, int) for v in lo + hi):
        return None
    return min(lo), max(hi), per_ms


_KEY_HIST_MEMO: dict[tuple, tuple] = {}


#: last _mod4_hist read failure (str), surfaced by book_rows_per_key's
#: RuntimeError so a bad file diagnoses itself
_MOD4_LAST_ERR: list = []


def _mod4_hist(sf_dir: str) -> tuple[list[int], int] | None:
    """Full per-residue histogram of ``user_id % 4`` (C-style remainder,
    matching Spark/DuckDB ``%``) over ``events.parquet``, plus the NULL
    count — the one narrow column read behind every symbol-cardinality
    planning constant (``symbol = 'S' || user_id % 4`` in the book
    derivation). Returns ``(counts, n_null)`` where ``counts[res + 3]``
    is the rowcount of residue ``res`` in -3..3, or None when the column
    read surprises (caller falls back to a Spark aggregate). Memoized
    per :func:`identity` of ``events.parquet``: planning metadata of the
    INPUT file, not a result cache; when the stat itself fails the
    computed histogram is returned WITHOUT memoizing (a later rewrite of
    the file must not be served a stale histogram). The book-plan memo
    of ``plans/book.py`` keys on the same identity.

    SIZE-DISPATCHED: under the driver-pull gate the histogram is one
    in-process :func:`parquet_column` decode; above it (the 100 TB case)
    the SAME exact numbers come from one distributed Spark aggregate
    over the raw file — 8 groups collected, never the column — memoized
    identically, so the ~40 dispatch-hint call sites pay the scan once
    per fixture per process."""
    path = f"{sf_dir}/events.parquet"
    memo_key = identity(path)
    if memo_key is not None:
        hit = _KEY_HIST_MEMO.get(memo_key)
        if hit is not None:
            return hit
    try:
        try:
            col = parquet_column(path, "user_id").combine_chunks()
        except ValueError:  # over the pull gate, or unreadable by arrow
            col = None
        if col is not None:
            import numpy as np

            n_null = col.null_count
            vals = col.drop_null().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            # C-style remainder (sign of dividend), matching Spark/DuckDB
            # `%` — numpy's `%` is floor-mod and would merge residue
            # classes for any negative user_id; +3 shift keeps bincount
            # indices non-negative
            rem = np.fmod(vals, 4) + 3
            counts = [int(c) for c in np.bincount(rem, minlength=7)]
        else:
            # over the driver-pull gate: ONE distributed aggregate over
            # the raw column (Spark % is C-style like np.fmod; NULL % 4
            # is NULL and groups under the None key) — 8 rows collected
            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    "user_id column over the driver-pull size gate and "
                    "no active SparkSession for the distributed fallback"
                )
            rows = (
                spark.read.parquet(path)
                .groupBy((F.col("user_id") % 4).alias("r"))
                .count()
                .collect()
            )
            counts = [0] * 7
            n_null = 0
            for r in rows:
                if r["r"] is None:
                    n_null = r["count"]
                else:
                    counts[int(r["r"]) + 3] = r["count"]
    except Exception as exc:
        _MOD4_LAST_ERR[:] = [f"{type(exc).__name__}: {exc}"]
        return None
    out = (counts, int(n_null))
    if memo_key is not None:
        _KEY_HIST_MEMO[memo_key] = out
    return out


def book_symbol_rows(sf_dir: str, residue: int = 0) -> int | None:
    """Rowcount of the synthetic book filtered to one symbol
    (``symbol == f'S{residue}'``), from the arrow histogram instead of a
    scheduled Spark count job: the book derivation
    is one row per event and ``symbol = 'S' || user_id % 4``, so the
    filtered count IS the residue-class count. NULL user_id rows yield a
    NULL symbol and never match a literal filter. None on read surprise
    (caller falls back to the operator's own count job)."""
    hist = _mod4_hist(sf_dir)
    if hist is None or not -3 <= residue <= 3:
        return None
    return hist[0][residue + 3]


def book_symbol_group_counts(
    sf_dir: str,
) -> dict[tuple[str, str | None], int] | None:
    """Per-(exchange_id, symbol) rowcounts of the FULL synthetic book —
    the grouped simulators' ``groupBy(keys).count()`` pull, from the
    arrow histogram. Matches the Spark collect
    exactly: only groups present in the data appear; a NULL user_id
    yields a NULL symbol group ('S' || NULL is NULL). None on read
    surprise."""
    from market_microstructure_toolkit_spark.plans.book import (
        BOOK_EXCHANGE_ID,
        BOOK_SYMBOL_PREFIX,
    )

    hist = _mod4_hist(sf_dir)
    if hist is None:
        return None
    counts, n_null = hist
    out: dict[tuple[str, str | None], int] = {}
    for res in range(-3, 4):
        n = counts[res + 3]
        if n:
            out[(BOOK_EXCHANGE_ID, f"{BOOK_SYMBOL_PREFIX}{res}")] = n
    if n_null:
        out[(BOOK_EXCHANGE_ID, None)] = n_null
    return out


def book_rows_per_key(sf_dir: str) -> int:
    """MAX per-(exchange, symbol) rowcount of the synthetic book — the
    dispatch hint every growth-class window gate reads.

    It is a MAX, not footer rowcount ÷ 4: an AVERAGE equals the max
    only while the fixture's symbols (``user_id % 4``) stay uniform by
    construction. Under real-world skew (one hot symbol holding 90% of
    rows) the average stays under ``W.SEG_THRESHOLD_ROWS`` while the hot
    key's window serializes on a single task — exactly the
    100×-robustness gap dispatch exists to close. The hint measures the
    ACTUAL key histogram (:func:`_mod4_hist`, shared with the
    simulators' rowcount hints): one column-pruned arrow read of
    ``user_id`` (the only input to the symbol derivation), bincounted
    mod 4, max taken; NULL user_id (its own window group) counts as a
    fifth bucket. Cost: one narrow column scan per (sf_dir, fixture
    identity), memoized — ~10 ms at sf1 against Spark jobs it gates that
    run seconds. On a production deployment the same signal comes from
    catalog/ANALYZE per-key statistics or the measured fallback
    (``use_segmented(None, df)``, which aggregates MAX per-key count);
    the contract either way is max, never average."""
    hist = _mod4_hist(sf_dir)
    if hist is None:
        # read surprise: a footer-rowcount average is WRONG under skew,
        # so fail loudly instead — every caller treats this hint as
        # required fixture metadata. The underlying pyarrow/IO error
        # that _mod4_hist recorded is surfaced here.
        detail = f" ({_MOD4_LAST_ERR[0]})" if _MOD4_LAST_ERR else ""
        raise RuntimeError(
            f"book_rows_per_key: cannot read {sf_dir}/events.parquet "
            f"user_id{detail}"
        )
    counts, n_null = hist
    return max(max(counts) if counts else 0, n_null)


def _tape_parts(spark, glob_path: str, hi: int, per_part: int = 50_000) -> str:
    """Replay partitions for a tape already on disk: parquet footer
    rowcount (metadata-only) scaled at per_part rows/partition, clamped
    [2, hi]. ``hi`` encodes the replay's key cardinality ceiling — an
    instrument-keyed state op (4 symbols) gains nothing past 4 state
    partitions, while each extra partition is one more task per
    micro-batch with a fixed cost: a state-store load and commit, and
    for a Python state op the worker's per-task set-up (on CPython 3.11
    that set-up re-reads pyspark.zip unless the worker runs under
    ``worker_daemon.py``, 130-210 ms per task). Measured both
    ways: 8 partitions on sf0.1 tapes cost ~2.4s/gate more than 2, and
    2 partitions at sf1 halved the state throughput, so size-adaptive
    is the only setting that survives both.

    The rowcount is read from the parquet FOOTERS via pyarrow — a pure
    metadata pull, no Spark job (``spark.read.parquet(glob).count()``
    would spend a full scheduled job per replay gate on a number the
    footers already hold)."""
    n = parquet_rows(glob_path)
    return _stream_parts(n, per_part=per_part, lo=2, hi=hi)


def _stream_parts(n_rows: int, per_part: int = 50_000, lo: int = 8, hi: int = 32) -> str:
    """Shuffle/state partition count for a DATA-KEYED streaming replay
    (dedup on content hash, CDC on doc_id): scale with input size
    instead of pinning a constant. The sf10 decade probe showed the
    failure mode: 5M docs through 8 fixed state partitions turned the
    CDC replay's decade ratio super-linear (6.4x for 10x data) — a
    parallelism ceiling, not a plan defect. Instrument-keyed replays
    (4 symbols) stay at a small constant instead; a real cluster sizes
    this by key cardinality x executor count."""
    return str(max(lo, min(hi, (n_rows + per_part - 1) // per_part)))


#: age after which an untouched scratch or tape-cache directory is taken
#: to belong to a dead session (or, for tapes, a previous code state)
_STALE_S = 6 * 3600


def _scratch_root() -> str:
    """Root for replay scratch and the tape cache.

    Prefers the /dev/shm tmpfs when present: gate replays are ephemeral
    by construction, so the checkpoint's durability guarantee buys
    nothing here and the disk round-trip is pure overhead. A production
    stream points checkpointLocation at durable storage instead.
    ``SPARK_GRAFT_SCRATCH_DIR`` overrides the root — the century sweeps
    replay 100M-row tapes whose scratch would otherwise compete with
    the JVM heap for physical RAM via tmpfs.
    """
    import os
    import tempfile

    return os.environ.get("SPARK_GRAFT_SCRATCH_DIR") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    )


def _sweep_stale(root: str, prefix: str = "", skip: str | None = None) -> None:
    """Remove every directory directly under ``root`` whose name starts
    with ``prefix`` but not with ``skip`` and whose mtime is older than
    :data:`_STALE_S`. Best effort: entries that vanish or cannot be
    read mid-scan are left alone."""
    import os
    import shutil
    import time

    cutoff = time.time() - _STALE_S
    try:
        names = os.listdir(root)
    except OSError:
        return
    for ent in names:
        if not ent.startswith(prefix) or (skip and ent.startswith(skip)):
            continue
        p = os.path.join(root, ent)
        try:
            if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def _scratch(prefix: str) -> str:
    """Fresh scratch dir for replay chunks / checkpoints / roundtrip
    files under :func:`_scratch_root`.

    Scratch dirs cannot be removed when their gate returns — the
    returned DataFrame lazily reads the scratch parquet — so they leak
    until process exit and beyond (8 GB of dead mmt_* dirs from earlier
    sessions were once measured on a tmpfs, shrinking the page cache for
    every later run). Each call therefore sweeps stale sibling mmt_*
    dirs; the tape cache root (mmt_tape_cache_*) manages its own
    eviction and is skipped.
    """
    import tempfile

    root = _scratch_root()
    _sweep_stale(root, prefix="mmt_", skip="mmt_tape_cache_")
    return tempfile.mkdtemp(prefix=prefix, dir=root)


#: per-batch progress of the most recent replay_to_parquet run in this
#: process (list of StreamingQueryProgress dicts) — read by
#: tools/replay_decompose.py to attribute replay wall time to micro-batch
#: count vs per-batch state throughput, and by tests/test_streaming.py
LAST_PROGRESS: list = []


def await_replay(q, name: str, await_s: int = 300) -> None:
    """Await an availableNow replay with the SAME loud-timeout contract
    as :func:`replay_to_parquet` — ``awaitTermination(timeout)`` returns
    False on timeout WITHOUT stopping the query, so a bare call at a
    memory-sink site silently hands a partially-filled table to a
    correctness gate once a tape outgrows the ceiling (exactly how the
    parquet path failed at the sf100 century probe before the guard).
    ``SPARK_GRAFT_REPLAY_AWAIT_S`` RAISES the ceiling for century-scale
    tapes without weakening the default — it is a floor, never a
    reduction, so a call site that passes a larger per-site ceiling
    keeps it."""
    import contextlib
    import os as _os

    await_s = max(
        await_s, int(_os.environ.get("SPARK_GRAFT_REPLAY_AWAIT_S", "0"))
    )
    if not q.awaitTermination(await_s):
        # best-effort stop: if the stuck query's thread errors inside
        # stop(), the informative TimeoutError below must still
        # propagate
        with contextlib.suppress(Exception):
            q.stop()
        raise TimeoutError(
            f"await_replay[{name}]: availableNow replay still running "
            f"after {await_s}s — refusing to read a partial result"
        )


def replay_to_parquet(spark, df, base: str, name: str, await_s: int = 300):
    """Run an availableNow replay into a PARQUET scratch sink and read
    the result back lazily — the scale-safe twin of the memory sink for
    replays whose output is INPUT-sized (per-trade signs, per-event OFI,
    per-doc dedup/CDC emissions). The memory sink materializes every
    emitted row in the DRIVER heap: fine at sf0.1, an 8 GB driver OOM
    at the sf10 decade probe (10M-row tapes). The parquet sink lands
    rows executor-side (append mode, which every per-row stateful op
    here uses); downstream aggregation
    then reads a columnar scan via the sink's transaction log instead
    of a driver-resident table. Memory sinks remain correct — and are
    kept — for complete-mode or output-bounded replays (windowed
    aggregates, session rollups)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", f"{base}/out_{name}")
        .option("checkpointLocation", f"{base}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    # loud-timeout contract shared with every replay await site (see
    # await_replay)
    await_replay(q, f"replay_to_parquet[{name}]", await_s)
    # expose the finished replay's per-batch progress for the scale
    # decomposition tools (batch count vs per-batch state
    # throughput); recentProgress caps at ~100 entries, enough
    # for every tape here, and the copy is metadata-sized
    import json as _json

    LAST_PROGRESS.clear()
    try:
        LAST_PROGRESS.extend(_json.loads(p.json) for p in q.recentProgress)
    except Exception:
        pass
    # An all-rows-filtered replay commits only _spark_metadata; a bare
    # read would raise 'unable to infer schema'. Pinning the stream's
    # own schema makes the empty-but-valid case return an empty frame,
    # matching the memory sink this helper replaced.
    return spark.read.schema(df.schema).parquet(f"{base}/out_{name}")


def _stamp_batch_order(*dirs: str) -> None:
    """Pin the micro-batch replay order: give every file under each dir
    an explicit mtime, strictly increasing by 2s per dir in argument
    order. Spark's file stream source orders files by modification time,
    and the 0.05s-sleep-between-writes this replaces is undefined on
    filesystems with coarse (>=1s) mtime granularity — for the watermark
    gates a flipped batch order changes the accepted/dropped sets and
    breaks the oracle hash."""
    import os
    import time

    t0 = time.time()
    for i, d in enumerate(dirs):
        ts = t0 + 2.0 * i
        for root, _, files in os.walk(d):
            for fn in files:
                os.utime(os.path.join(root, fn), (ts, ts))


_TAPE_MEMO: dict[tuple, str] = {}


def _tape_inputs(sf_dir: str) -> tuple:
    """What a replay tape's rows depend on besides the code: the
    :func:`identity` of every parquet input under ``sf_dir`` (so
    regenerating fixtures under the SAME path invalidates the tape) and
    the ``SPARK_GRAFT_PLANTS`` toggle."""
    import os

    from market_microstructure_toolkit_spark.plans.book import _plants_on

    sfp = os.path.abspath(sf_dir)
    try:
        names = sorted(n for n in os.listdir(sfp) if n.endswith(".parquet"))
    except OSError:
        names = []
    return (
        tuple(identity(os.path.join(sfp, n)) for n in names),
        _plants_on(),
    )


def _tape_cache_key(sf_dir: str, kind: str, inputs: tuple) -> str:
    """Content key for the cross-process tape cache: (sf_dir, kind,
    :func:`_tape_inputs`, hash of the derivation source files). Hashing
    the source files makes any fixture-derivation change invalidate
    every cached tape — coarser than a true content hash, but safe by
    construction, and the win this cache targets (repeated cold benches
    in one session, where ~10s of the cold streaming subtotal was
    re-building identical tapes per process) only needs stability
    within one checkout."""
    import hashlib
    import os

    h = hashlib.md5()
    h.update(f"{os.path.abspath(sf_dir)}|{kind}|{inputs!r}|".encode())
    # hash EVERY package source file, not just the known derivation
    # modules: tape-build closures live in the gate modules (e.g.
    # streaming_queries' injected-duplicate tape), and missing one
    # would silently serve a stale tape across an edit
    import market_microstructure_toolkit_spark as _pkg

    root = os.path.dirname(os.path.abspath(_pkg.__file__))
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            try:
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(f.read())
            except Exception:
                h.update(b"nofile")
    return h.hexdigest()


def _memo_tape(sf_dir: str, kind: str, build) -> str:
    """Memoized replay tape: ``build(base)`` writes the micro-batch
    chunk dirs under ``base`` and returns them in batch order (they get
    mtime-stamped here). Tapes are pure functions of (sf_dir, kind,
    :func:`_tape_inputs`, derivation code), so they are cached at TWO
    levels: in-process (dict) and CROSS-process under a shared scratch
    dir keyed by content (fresh cold-bench processes were rebuilding
    identical tapes, ~10s of the cold streaming subtotal). Both levels
    key on the inputs, so a rewritten fixture or a flipped plants toggle
    builds afresh in the same process too. Builds land in a temp dir and
    publish with one atomic rename, so a half-built tape is never
    visible. Checkpoints must stay PER-RUN (a reused checkpoint replays
    committed offsets and emits nothing)."""
    import os
    import tempfile

    inputs = _tape_inputs(sf_dir)
    key = (os.path.abspath(sf_dir), kind, inputs)
    hit = _TAPE_MEMO.get(key)
    if hit:
        # refresh mtime on EVERY hit: a long-lived process replaying
        # from an in-memory-memoized tape would otherwise never touch
        # it, letting another process's eviction scan rmtree it
        # mid-read once it aged past the cutoff
        try:
            os.utime(hit)
        except OSError:
            pass
        return hit
    # per-user, 0700 cache root: a predictable path under a
    # world-writable parent must not let another uid pre-create or
    # poison tapes that feed correctness gates
    root = os.path.join(_scratch_root(), f"mmt_tape_cache_u{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if st.st_uid != os.getuid():
        # someone else owns the path — refuse it, use a private dir
        root = tempfile.mkdtemp(prefix="mmt_tape_cache_")
    final = os.path.join(root, _tape_cache_key(sf_dir, kind, inputs))
    if os.path.isdir(root) and os.stat(root).st_uid == os.getuid():
        os.chmod(root, 0o700)
        # touch OUR entry before scanning, so this process's target
        # never looks stale to its own scan, then age-evict: an entry
        # untouched for that long is from a previous code state (the
        # source-hash key changes per edit) and will never hit again
        try:
            os.utime(final)
        except OSError:
            pass
        _sweep_stale(root)
    if not os.path.isdir(final):
        base = _scratch(prefix=f"mmt_tape_{kind}_")
        _stamp_batch_order(*build(base))
        try:
            os.rename(base, final)
        except OSError:  # concurrent builder won the rename, or /dev/shm
            # unavailable for a cross-device move — fall back to the
            # per-process dir (still correct, just uncached)
            if not os.path.isdir(final):
                _TAPE_MEMO[key] = base
                return base
    try:
        os.utime(final)  # keep hot entries out of the age eviction
    except OSError:
        pass
    _TAPE_MEMO[key] = final
    return final


def _split2(df: DataFrame, ts_col: str, base: str) -> list[str]:
    """Write ``df`` as two chunks split at the midpoint of its
    ``ts_col`` range (chunk a = earlier half for EVERY key, so
    micro-batch 2 genuinely depends on batch-1 state). ``persist()``
    bounds the build to one derivation scan instead of three."""
    df = df.persist()
    try:
        rng = df.agg(
            F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
        ).collect()[0]
        split = (rng["lo"] + rng["hi"]) // 2
        df.filter(F.col(ts_col) <= split).coalesce(1).write.parquet(
            f"{base}/data/a"
        )
        df.filter(F.col(ts_col) > split).coalesce(1).write.parquet(
            f"{base}/data/b"
        )
    finally:
        df.unpersist()
    return [f"{base}/data/a", f"{base}/data/b"]


def _split3(df: DataFrame, ts_col: str, base: str) -> list[str]:
    """Three chunks at the thirds of the ``ts_col`` range (the shape the
    watermark gates need: Spark 4.1 plans batch N's late filter with
    batch N-1's watermark, so late-data semantics need >= 3 batches)."""
    df = df.persist()
    try:
        rng = df.agg(
            F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
        ).collect()[0]
        lo, hi = rng["lo"], rng["hi"]
        c1, c2 = lo + (hi - lo) // 3, lo + 2 * ((hi - lo) // 3)
        df.filter(F.col(ts_col) <= c1).coalesce(1).write.parquet(
            f"{base}/data/a"
        )
        df.filter(
            (F.col(ts_col) > c1) & (F.col(ts_col) <= c2)
        ).coalesce(1).write.parquet(f"{base}/data/b")
        df.filter(F.col(ts_col) > c2).coalesce(1).write.parquet(
            f"{base}/data/c"
        )
    finally:
        df.unpersist()
    return [f"{base}/data/a", f"{base}/data/b", f"{base}/data/c"]


def _tape2(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Two-chunk tape over the book/trades fixture (see _memo_tape)."""
    df_fn = synthetic_book if kind == "book2" else synthetic_trades
    return _memo_tape(
        sf_dir, kind, lambda base: _split2(df_fn(spark, sf_dir), "ts_ms", base)
    )


# ---------------------------------------------------------------------------
# F7 guard-branch plants: rare pathological rows in the
# events/documents fixtures, mirroring the F6 book plants — so the corpus/
# events/streaming gate hashes pin the degenerate-input guard branches, not
# just the happy path. Independent predicates on large primes; identical
# CASE chains on both engines; honors SPARK_GRAFT_PLANTS like the book
# plants (bench A/B only — artifacts always record with plants ON).
#
# events (plant on the ORIGINAL event_id, all four independent):
#   - DUPLICATE id   (id % 487 == 486, id >= 487): event_id -> id - 1.
#     ts stays unique (verified on the driver fixtures), so (ts,
#     event_id) remains a total order — uniqueness ASSUMPTIONS break,
#     window determinism does not.
#   - NULL value     (id % 491 == 490): NULL measure through aggregates.
#   - NULL user_id   (id % 499 == 498): sessionization / retention /
#     grouping with a NULL key (grouped on both engines, dropped by
#     equi-joins on both).
#   - OUT-OF-ORDER ts (id % 503 == 502): ts shifted back 2h — arrival
#     order no longer matches event_id order within a user; exercises
#     gap/session splits. (No NULL-ts plant: ts is an ORDER BY column
#     and Spark sorts NULLs first while DuckDB sorts them last — every
#     oracle would need explicit NULLS FIRST; not worth the sweep.)
#
# documents:
#   - NULL text      (doc_id % 499 == 498)
#   - EMPTY text     (doc_id % 487 == 486)
#   - UNICODE edge   (doc_id % 491 == 490): multibyte/astral prefix
#     (accents, CJK, emoji) through tokenizers, shingles, hashes,
#     length/quality stats.
#   - NULL lang      (doc_id % 479 == 478): NULL label through lang-id
#     confusion / grouping. (479, not 503: the sf0.001/sf0.01 documents
#     tables have only 500 rows, max doc_id 499 — a 503 modulus never
#     fires there and the plant would be untested at two of three SFs.)
# ---------------------------------------------------------------------------

_DOC_UNICODE_PREFIX = "naïve café 日本語 \U0001f916 "

EVENTS_PLANTED_SQL = """
SELECT
  CASE WHEN event_id % 487 = 486 AND event_id >= 487
       THEN event_id - 1 ELSE event_id END AS event_id,
  CASE WHEN event_id % 503 = 502 THEN ts - INTERVAL 2 HOUR ELSE ts END AS ts,
  CASE WHEN event_id % 499 = 498 THEN NULL ELSE user_id END AS user_id,
  event_type,
  CASE WHEN event_id % 491 = 490 THEN NULL ELSE value END AS value,
  props
FROM events
"""

DOCS_PLANTED_SQL = f"""
SELECT doc_id,
  CASE WHEN doc_id % 499 = 498 THEN NULL
       WHEN doc_id % 487 = 486 THEN ''
       WHEN doc_id % 491 = 490 THEN '{_DOC_UNICODE_PREFIX}' || text
       ELSE text END AS text,
  CASE WHEN doc_id % 479 = 478 THEN NULL ELSE lang END AS lang,
  source, n_chars
FROM documents
"""


def plant_events(ev: DataFrame) -> DataFrame:
    """Spark twin of EVENTS_PLANTED_SQL — apply AFTER read_events (ts is
    epoch-nanos BIGINT there; 2h = 7.2e12 ns)."""
    from market_microstructure_toolkit_spark.plans.book import _plants_on

    if not _plants_on():
        return ev
    eid = F.col("event_id")
    return ev.select(
        F.when((eid % 487 == 486) & (eid >= 487), eid - 1)
        .otherwise(eid)
        .alias("event_id"),
        F.when(eid % 503 == 502, F.col("ts") - F.lit(7_200_000_000_000))
        .otherwise(F.col("ts"))
        .alias("ts"),
        F.when(eid % 499 == 498, F.lit(None)).otherwise(F.col("user_id")).alias("user_id"),
        F.col("event_type"),
        F.when(eid % 491 == 490, F.lit(None)).otherwise(F.col("value")).alias("value"),
        F.col("props"),
    )


def plant_docs(df: DataFrame) -> DataFrame:
    """Spark twin of DOCS_PLANTED_SQL."""
    from market_microstructure_toolkit_spark.plans.book import _plants_on

    if not _plants_on():
        return df
    did = F.col("doc_id")
    text = (
        F.when(did % 499 == 498, F.lit(None).cast("string"))
        .when(did % 487 == 486, F.lit(""))
        .when(
            did % 491 == 490,
            F.concat(F.lit(_DOC_UNICODE_PREFIX), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    lang = F.when(did % 479 == 478, F.lit(None).cast("string")).otherwise(
        F.col("lang")
    )
    return df.select(
        "doc_id", text.alias("text"), lang.alias("lang"), "source", "n_chars"
    )


def plants_rewrite_sql(sql: str | None, name: str = "") -> str | None:
    """Route an oracle's raw ``events``/``documents`` references through
    the planted CTEs (FROM/JOIN-position rename + prepended CTEs; merges
    into an existing leading WITH). The book CTE is NOT affected — its
    derivation reads ``events`` inside its own SQL, which lives in
    market_queries where this rewrite is not applied (the book carries
    its own F6 plants).

    The rename is constrained to table positions (``FROM``/``JOIN``
    keyword prefix) instead of every word-boundary occurrence, and any
    RESIDUAL bare table reference left outside the book CTE and outside
    ``--`` comments raises at registration time — a column alias, string
    literal, or other non-table use of the word would otherwise be
    silently renamed (or silently left reading unplanted data)."""
    import re

    from market_microstructure_toolkit_spark.plans.book import _plants_on

    if sql is None or not _plants_on():
        return sql

    book = book_sql()

    def sub_outside_book_cte(pattern: str, repl: str, s: str) -> str:
        # The embedded book-CTE text (streaming replays compose
        # _BOOK_CTE into their oracles) reads the RAW events table by
        # design — split on the exact book_sql() text and rename only
        # outside it.
        parts = s.split(book)
        return book.join(
            re.sub(pattern, repl, p, flags=re.IGNORECASE) for p in parts
        )

    ctes = []
    out = sql
    for tbl, planted in (
        ("events", EVENTS_PLANTED_SQL),
        ("documents", DOCS_PLANTED_SQL),
    ):
        pat = rf"\b(FROM|JOIN)(\s+){tbl}\b"
        if re.search(pat, out.replace(book, ""), flags=re.IGNORECASE):
            out = sub_outside_book_cte(pat, rf"\1\2{tbl}_planted", out)
            ctes.append(f"{tbl}_planted AS ({planted})")
        residual = re.sub(r"--[^\n]*", "", out.replace(book, ""))
        # IGNORECASE so the guard's sensitivity matches the rewrite's
        # (an uppercase 'EVENTS' in a comma-join or other non-FROM/JOIN
        # position would escape the raise otherwise)
        if re.search(rf"\b{tbl}\b", residual, flags=re.IGNORECASE):
            raise ValueError(
                f"plants_rewrite_sql[{name}]: bare '{tbl}' reference in a "
                f"non-FROM/JOIN position — alias it or route it through "
                f"{tbl}_planted explicitly"
            )
    if not ctes:
        return sql
    cte_block = ", ".join(ctes)
    stripped = out.lstrip()
    if stripped.upper().startswith("WITH"):
        i = out.upper().index("WITH") + 4
        return out[:i] + " " + cte_block + "," + out[i:]
    return "WITH " + cte_block + " " + out


def register_planted(name: str, sql: str | None):
    """register() with the F7 plant rewrite applied to the oracle SQL —
    the registration entry point for the events/corpus/streaming gate
    modules (their Spark sides consume the planted loaders)."""
    return register(name, plants_rewrite_sql(sql, name=name))


def _events_fx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLANTED events fixture for the events/streaming gate families
    (the book derivation keeps reading the raw table via read_events —
    it has its own F6 plants)."""
    from market_microstructure_toolkit_spark.sources.events import read_events

    return plant_events(read_events(spark, sf_dir))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan with the F7 plants applied, spread over cores
    (hash/shingle stages are expression-heavy; a single-file local input
    would otherwise pin them to one task — no-op on an already-split
    cluster input)."""
    from market_microstructure_toolkit_spark.partitioning import spread

    return plant_docs(
        spread(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_microstructure_toolkit_spark.partitioning import spread

    return spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), "vec_id")


def lsh_keyed_sql(n_bands: int = 4) -> str:
    """DuckDB twin of ``operators.similarity.lsh_banded_pairs``'s keyed
    stage with ``bits_per_band="auto"``: emits ``nb`` (the adaptive band
    width — the SAME integer thresholds as ``auto_bits_per_band``, an
    exact CASE chain, no float log) and ``keyed`` (vec_id, v, band,
    bucket) CTE bodies. Bit term i>=8 is gated on ``nb.bits > i`` so one
    static SQL text reproduces every width the operator can choose.

    Band resolution must grow with the data: a static 4x8-bit SQL (1024
    buckets forever) makes candidate pairs quadratic in corpus size —
    312M pairs at sf10 — in BOTH engines.
    """
    from market_microstructure_toolkit_spark.operators.similarity import (
        AUTO_TARGET_OCC,
    )

    hi = min(16, 64 // n_bands)
    cases = "\n    ".join(
        f"WHEN COUNT(*) <= {AUTO_TARGET_OCC << b} THEN {b}"
        for b in range(8, hi)
    )
    terms = []
    for i in range(hi):
        gate = f"nb.bits > {i} AND " if i >= 8 else ""
        terms.append(
            f"(CASE WHEN {gate}e.embedding[b.band * nb.bits + {i + 1}] > 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n    + ".join(terms)
    bands = ", ".join(str(j) for j in range(n_bands))
    return f"""nb AS (
  SELECT CASE
    {cases}
    ELSE {hi} END AS bits
  FROM embeddings
),
keyed AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, b.band,
    {bucket} AS bucket
  FROM embeddings e
  CROSS JOIN (SELECT unnest([{bands}]) AS band) b
  CROSS JOIN nb
)"""


_OFI_STRICT_SQL = f"""{_BOOK_CTE},
lagged AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce,
         bid1_price, ask1_price, bid1_size, ask1_size,
         LAG(bid1_price) OVER ({_W}) AS pbb,
         LAG(ask1_price) OVER ({_W}) AS pba,
         LAG(bid1_size) OVER ({_W}) AS pbq,
         LAG(ask1_size) OVER ({_W}) AS paq
  FROM book
)
SELECT exchange_id, symbol, ts_ms, raw_nonce,
  CASE WHEN bid1_price IS NOT NULL AND ask1_price IS NOT NULL
            AND bid1_size IS NOT NULL AND ask1_size IS NOT NULL
            AND pbb IS NOT NULL AND pba IS NOT NULL
            AND pbq IS NOT NULL AND paq IS NOT NULL
       THEN (CASE WHEN bid1_price > pbb THEN bid1_size - pbq
                  WHEN bid1_price < pbb THEN -pbq
                  ELSE 0.0 END)
          + (CASE WHEN ask1_price < pba THEN ask1_size - paq
                  WHEN ask1_price > pba THEN -paq
                  ELSE 0.0 END)
  END AS ofi_l1
FROM lagged
"""


_TRADES_CTE = f"{_BOOK_CTE},\ntrades AS ({trades_sql()})"


#: hot-symbol remap for the skewed streaming tape: 90% of prints
#: collapse onto S0, a pure per-row function of raw_nonce applied
#: identically on both engines. Keyed state then sees one key holding
#: ~90% of the stream — the shape that tests whether the state shuffle
#: serializes.
_SKEW_SYMBOL_CASE = "CASE WHEN raw_nonce % 10 <> 0 THEN 'S0' ELSE symbol END"


_TRADES_SKEW_CTE = f"""{_BOOK_CTE},
trades_u AS ({trades_sql()}),
trades AS (
  SELECT exchange_id, {_SKEW_SYMBOL_CASE} AS symbol,
         ts_ms, raw_nonce, mid, price, qty
  FROM trades_u
)"""


def _classified_cte(trades_cte: str) -> str:
    return f"""{trades_cte},
ticked AS (
  SELECT *,
    CASE WHEN price > LAG(price) OVER ({_W}) THEN 1
         WHEN price < LAG(price) OVER ({_W}) THEN -1 END AS raw_tick
  FROM trades
),
classified AS (
  SELECT exchange_id, symbol, ts_ms, raw_nonce, mid, price, qty,
    CASE WHEN price > mid THEN 1
         WHEN price < mid THEN -1
         ELSE COALESCE(LAST_VALUE(raw_tick IGNORE NULLS) OVER
           ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
    END AS side
  FROM ticked
)"""


_CLASSIFIED_CTE = _classified_cte(_TRADES_CTE)


_TRADE_SIGNS_SQL = f"""{_CLASSIFIED_CTE}
SELECT exchange_id, symbol, ts_ms, raw_nonce,
       ROUND(price, 6) AS price, qty, side
FROM classified
"""


def _vpin_sql(classified_cte: str) -> str:
    return f"""{classified_cte},
bucketed AS (
  SELECT *,
    CAST(FLOOR(COALESCE(SUM(qty) OVER
      ({_W} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
      / 50.0) AS BIGINT) AS bucket
  FROM classified
),
grouped AS (
  SELECT exchange_id, symbol, bucket,
    SUM(CASE WHEN side > 0 THEN qty ELSE 0.0 END) AS buy_vol,
    SUM(CASE WHEN side < 0 THEN qty ELSE 0.0 END) AS sell_vol,
    SUM(qty) AS total_vol,
    COUNT(*) AS n_trades
  FROM bucketed GROUP BY exchange_id, symbol, bucket
)
SELECT exchange_id, symbol, bucket, buy_vol, sell_vol, total_vol, n_trades,
       ABS(buy_vol - sell_vol) / total_vol AS vpin
FROM grouped
"""


_VPIN_SQL = _vpin_sql(_CLASSIFIED_CTE)


_VPIN_SKEW_SQL = _vpin_sql(_classified_cte(_TRADES_SKEW_CTE))


_CDC_SQL = """
WITH upd AS (
  SELECT doc_id, text || ' [rev2]' AS text, lang, source,
         n_chars + 7 AS n_chars, 'U' AS op
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
),
dels AS (
  SELECT doc_id, text, lang, source, n_chars, 'D' AS op
  FROM documents WHERE doc_id % 13 = 0
),
ins AS (
  SELECT doc_id + 10000000 AS doc_id, text, lang,
         'cdc_backfill' AS source, n_chars, 'U' AS op
  FROM documents WHERE doc_id % 11 = 0
),
changes AS (
  SELECT * FROM upd UNION ALL SELECT * FROM dels UNION ALL SELECT * FROM ins
),
unioned AS (
  SELECT doc_id, text, lang, source, n_chars, 0 AS ver, 'U' AS op
  FROM documents
  UNION ALL
  SELECT doc_id, text, lang, source, n_chars, 1 AS ver, op FROM changes
)
SELECT doc_id, text, lang, source, n_chars
FROM unioned
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY ver DESC, op ASC) = 1
        AND op <> 'D'
"""
