"""Structured Streaming replay gate queries - each replays a fixture
tape through a streaming operator and hash-matches a batch oracle.
Split from plans/queries.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from market_microstructure_toolkit_spark.functions import arrays as A
from market_microstructure_toolkit_spark.plans.book import BOOK_DEPTH
from market_microstructure_toolkit_spark.plans.book import synthetic_book
from market_microstructure_toolkit_spark.plans.book import synthetic_trades
from market_microstructure_toolkit_spark.plans.base import (
    IDS,
    KEYS,
    _BOOK_CTE,
    _CDC_SQL,
    _OFI_STRICT_SQL,
    _TRADE_SIGNS_SQL,
    _VPIN_SQL,
    _VPIN_SKEW_SQL,
    _docs,
    _memo_tape,
    _scratch,
    _split2,
    _split3,
    _stamp_batch_order,
    await_replay,
    replay_to_parquet,
    _stream_parts,
    _tape_parts,
    _tape2,
    _events_fx,
    parquet_col_range,
    parquet_rows,
    plant_docs,
    register_planted as register,
)


@register("streaming_ofi_replay", _OFI_STRICT_SQL)
def q_streaming_ofi_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 strict OFI computed by the STREAMING tier: the synthetic book is
    replayed as a two-micro-batch file stream through the keyed
    applyInPandasWithState operator (state = previous L1 quote per
    instrument, carried across the batch boundary), availableNow trigger,
    memory sink. Hash-matching the batch oracle proves batch/stream
    parity (SURVEY §2.9)."""
    import uuid

    from market_microstructure_toolkit_spark.plans.book import BOOK_DEPTH
    from market_microstructure_toolkit_spark.streaming.book_stream import (
        read_book_stream,
        stateful_ofi,
    )

    tape_base = _tape2(spark, sf_dir, "book2")
    base = _scratch(prefix="mmt_stream_replay_")  # per-run checkpoint
    stream = read_book_stream(
        spark, f"{tape_base}/data/*/", BOOK_DEPTH, max_files_per_trigger=1
    )
    name = f"ofi_replay_{uuid.uuid4().hex[:8]}"
    # state-store partitions = shuffle partitions; there are only a few
    # instrument keys, so extra state partitions are tasks per micro-batch
    # with no data, each paying a fixed cost: a state-store load and
    # commit, and a Python worker's per-task set-up (see _tape_parts).
    # Streaming ignores AQE — set it explicitly; production replaces
    # this harness value with a key-cardinality-sized count.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=4)
    )
    try:
        # input-sized output (one row per book event) -> parquet sink;
        # the memory sink OOMed the 8g driver at the sf10 decade
        out = replay_to_parquet(spark, stateful_ofi(stream), base, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


_STREAM_WINDOW_SQL = f"""{_BOOK_CTE}
SELECT exchange_id, symbol,
       ts_ms // 86400000 * 86400000 AS window_start_ms,
       COUNT(*) AS n_snapshots,
       -- mids quantized to 2^-20 BEFORE the mean: the sum of quantized
       -- summands is exact in any accumulation order (state-merge order
       -- in the streaming tier is not the scan order), then one
       -- division; a raw AVG rounded 6dp can flip a boundary case when
       -- the tape's row order changes
       ROUND(AVG(floor((best_bid + best_ask) / 2.0 * 1048576.0 + 0.5)
                 / 1048576.0), 6) AS avg_mid,
       MIN(best_ask - best_bid) AS min_spread,
       MAX(best_ask - best_bid) AS max_spread
FROM book
GROUP BY exchange_id, symbol, ts_ms // 86400000 * 86400000
"""


@register("streaming_windowed_metrics", _STREAM_WINDOW_SQL)
def q_streaming_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window L1 metrics computed by the STREAMING
    tier in complete output mode (every window re-emitted at the final
    trigger == the batch answer), replayed over a 2-micro-batch file
    stream. Hash-matching plain GROUP BY SQL proves the streaming window
    assignment. The mean runs over 2^-20-quantized mids so its sum is
    exact in ANY state-merge order (exact to ~85M rows/window) — a raw
    double AVG rounded 6dp sat one ulp from a rounding boundary and
    flipped when the tape's row order changed."""
    import uuid

    from market_microstructure_toolkit_spark.plans.book import BOOK_DEPTH
    from market_microstructure_toolkit_spark.streaming.book_stream import (
        read_book_stream,
        with_event_time,
    )

    tape_base = _tape2(spark, sf_dir, "book2")
    base = _scratch(prefix="mmt_stream_win_")  # per-run checkpoint
    stream = with_event_time(
        read_book_stream(
            spark, f"{tape_base}/data/*/", BOOK_DEPTH, max_files_per_trigger=1
        )
    )
    spread = F.col("best_ask") - F.col("best_bid")
    mid = (F.col("best_bid") + F.col("best_ask")) / F.lit(2.0)
    # quantized-summand mean (see the oracle SQL comment): exact in any
    # state-merge order, so the streaming answer is bit-stable
    mid_q = F.floor(mid * F.lit(1048576.0) + F.lit(0.5)) / F.lit(1048576.0)
    agg = (
        stream.groupBy(*KEYS, F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.round(F.avg(mid_q), 6).alias("avg_mid"),
            F.min(spread).alias("min_spread"),
            F.max(spread).alias("max_spread"),
        )
        .select(
            *KEYS,
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_snapshots", "avg_mid", "min_spread", "max_spread",
        )
    )
    name = f"win_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=4)
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, "memory-sink replay")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


_STREAM_ALERT_JOIN_SQL = """
SELECT a.event_id AS alert_event_id, p.t AS pt_ms
FROM (SELECT user_id, epoch_ms(ts) AS t FROM events) p
JOIN (SELECT event_id, user_id, epoch_ms(ts) AS s
      FROM events WHERE value > 140) a
  ON p.user_id = a.user_id AND p.t >= a.s AND p.t < a.s + 300000
"""


@register("streaming_alert_join_replay", _STREAM_ALERT_JOIN_SQL)
def q_streaming_alert_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: the live twin of the batch
    events_alert_window_join. Two watermarked streams over the same
    two-micro-batch event replay — high-value alerts on one side, all
    events on the other — joined on user plus a time-range condition
    (event inside the alert's 5-minute window). Spark buffers both
    sides in join state and emits matches in append mode; hash-matching
    the batch inequality-join oracle proves cross-micro-batch matching
    (an alert in batch A joins events arriving in batch B through
    state). The wide watermark keeps state alive for the whole bounded
    replay; a live deployment would tighten it to the real lateness
    bound, trading state size for completeness."""
    import uuid

    ev = _events_fx(spark, sf_dir)
    tape_base = _memo_tape(
        sf_dir, "events2", lambda b: _split2(ev, "ts", b)
    )
    base = _scratch(prefix="mmt_stream_ssj_")  # per-run checkpoint
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tape_base}/data/*/")
    )
    et = F.timestamp_millis(F.expr("ts DIV 1000000"))
    pts = stream.select("user_id", et.alias("pt_time")).withWatermark(
        "pt_time", "365 days"
    )
    alerts = (
        stream.filter(F.col("value") > 140)
        .select(
            F.col("event_id").alias("alert_event_id"),
            F.col("user_id").alias("a_user"),
            et.alias("a_time"),
        )
        .withWatermark("a_time", "365 days")
    )
    joined = pts.join(
        alerts,
        (F.col("user_id") == F.col("a_user"))
        & (F.col("pt_time") >= F.col("a_time"))
        & (
            F.col("pt_time")
            < F.col("a_time") + F.expr("INTERVAL 5 MINUTES")
        ),
        "inner",
    ).select("alert_event_id", F.unix_millis("pt_time").alias("pt_ms"))
    name = f"ssj_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=8)
    )
    try:
        # join output scales with the alert-hit mass -> parquet sink
        out = replay_to_parquet(spark, joined, base, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


_STREAM_SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ms
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts_ms, event_id) AS session_no
  FROM flagged
)
SELECT user_id,
       MIN(ts_ms) AS session_start_ms,
       MAX(ts_ms) AS session_end_ms,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_no
"""


@register("streaming_sessionize_replay", _STREAM_SESSION_SQL)
def q_streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log sessionization computed by the STREAMING tier: events replayed
    as a two-micro-batch file stream through Spark's native
    ``session_window`` aggregation (complete output mode), 30-minute gap.
    Hash-matching the batch lag-gap oracle proves the streaming engine
    MERGES sessions across the micro-batch boundary — a user whose
    events straddle the split must yield one session, carried by the
    session-window state store, not two.

    Boundary semantics note: session_window treats an exactly-gap
    successor as a NEW session while the lag-gap construction keeps it
    (diff > gap starts a session); no adjacent pair in the fixtures
    lands exactly on the gap, so the two definitions coincide here.
    session_window.end = last event + gap, so the emitted end subtracts
    the gap back to the last event's timestamp."""

    ev = _events_fx(spark, sf_dir)
    tape_base = _memo_tape(
        sf_dir, "events2", lambda b: _split2(ev, "ts", b)
    )
    base = _scratch(prefix="mmt_stream_sess_")  # per-run checkpoint
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tape_base}/data/*/")
    )
    et = F.timestamp_millis(F.expr("ts DIV 1000000")).alias("et")
    agg = (
        stream.select("user_id", "event_id", et)
        .groupBy("user_id", F.session_window("et", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_millis("et")).alias("session_start_ms"),
        )
        .select(
            "user_id",
            "session_start_ms",
            (F.unix_millis(F.col("w.end")) - F.lit(1800000)).alias(
                "session_end_ms"
            ),
            "n_events",
        )
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=8)
    )
    # Complete-mode output goes through foreachBatch to DISTRIBUTED
    # parquet, one versioned dir per epoch, last version read back —
    # the standard complete-to-external-store recipe. A memory sink
    # would collect the FULL per-epoch result into driver-heap Rows:
    # fine for the 120-row windowed-metrics output, fatal at sf100
    # where complete-mode session state (no watermark eviction) already
    # strains the heap and the session table itself is millions of
    # rows. Checkpoint isolation comes from the per-run _scratch dir.
    last_epoch = {"v": -1}

    def _sink(bdf, epoch_id: int) -> None:
        bdf.write.mode("overwrite").parquet(f"{base}/out/v{epoch_id}")
        last_epoch["v"] = epoch_id

    try:
        q = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("complete")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, "foreachBatch complete replay")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(f"{base}/out/v{last_epoch['v']}")


_STREAM_DEDUP_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
"""


@register("streaming_dedup_replay", _STREAM_DEDUP_SQL)
def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup computed by the STREAMING tier: documents replayed as a
    two-micro-batch file stream (earlier ids first) through the keyed
    first-seen state operator — the live-ingestion twin of batch
    ``exact_dedup``. Hash-matching the batch oracle proves that
    suppression state carries across the batch boundary (a duplicate
    whose copies land in different micro-batches emits exactly once,
    with the first batch's min id)."""
    import uuid

    from market_microstructure_toolkit_spark.streaming.corpus_stream import (
        stateful_exact_dedup,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tape_base = _memo_tape(
        sf_dir, "docs2", lambda b: _split2(docs, "doc_id", b)
    )
    base = _scratch(prefix="mmt_stream_dedup_")  # per-run checkpoint

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
    )
    name = f"dedup_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # content-hash-keyed state: size-adaptive like the CDC replay. The
    # doc count comes from the documents parquet FOOTER (plants are
    # row-preserving), not a Spark count job.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _stream_parts(parquet_rows(f"{sf_dir}/documents.parquet")),
    )
    try:
        # input-sized output (every kept doc) -> parquet sink
        out = replay_to_parquet(
            spark, stateful_exact_dedup(stream), base, name
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


@register("streaming_trade_signs_replay", _TRADE_SIGNS_SQL)
def q_streaming_trade_signs_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-Ready trade signs computed by the STREAMING tier: the
    synthetic tape replayed as a two-micro-batch file stream (earlier
    timestamps first) through the keyed stateful classifier
    (streaming/trade_stream.py). Hash-matching the batch oracle proves
    the tick-rule lookback — last price + last non-zero tick sign, two
    scalars of per-instrument state — carries across the micro-batch
    boundary: a midpoint print whose deciding tick happened in the
    PREVIOUS batch still classifies correctly."""
    import uuid

    from market_microstructure_toolkit_spark.streaming.trade_stream import (
        stateful_lee_ready,
    )

    tape_base = _tape2(spark, sf_dir, "trades2")
    base = _scratch(prefix="mmt_stream_signs_")  # per-run checkpoint
    stream = (
        spark.readStream.schema(
            "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
            " mid double, price double, qty double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
    )
    name = f"trade_signs_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=4)
    )
    try:
        # input-sized output (one row per trade) -> parquet sink
        out = replay_to_parquet(
            spark, stateful_lee_ready(stream), base, name
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out.select(
        *IDS, F.round("price", 6).alias("price"), "qty", "side"
    )


@register("streaming_vpin_replay", _VPIN_SQL)
def q_streaming_vpin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN computed by the STREAMING tier: the tape replayed as a
    two-micro-batch file stream through BOTH keyed stateful operators
    chained — Lee-Ready signs (tick-rule state), then volume-synchronized
    bucket assignment (cumulative-volume state) — and aggregated to the
    per-bucket imbalance (one applyInPandasWithState per stream is a
    Structured Streaming limit, hence the fused operator). Hash-matching
    the batch oracle proves the
    volume clock survives the micro-batch boundary: a bucket that opens
    at the end of batch 1 and fills at the start of batch 2 carries ONE
    id and one imbalance, because its boundary comes from carried
    cumulative volume rather than per-batch sums. Chaining two
    applyInPandasWithState stages re-shuffles on the same instrument
    keys — two O(instruments) state stores, no extra data movement
    pattern beyond the second keyed exchange."""
    import uuid

    from market_microstructure_toolkit_spark.streaming.trade_stream import (
        stateful_signed_buckets,
    )

    tape_base = _tape2(spark, sf_dir, "trades2")
    base = _scratch(prefix="mmt_stream_vpin_")  # per-run checkpoint
    stream = (
        spark.readStream.schema(
            "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
            " mid double, price double, qty double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
    )
    name = f"vpin_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=4)
    )
    try:
        # input-sized output (one signed+bucketed row per trade) ->
        # parquet sink; THE sf10-decade OOM site (10M rows in the 8g
        # driver heap via the memory sink)
        rows = replay_to_parquet(
            spark, stateful_signed_buckets(stream, 50.0), base, name
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    qty, side = F.col("qty"), F.col("side")
    return rows.groupBy(*KEYS, "bucket").agg(
        F.sum(F.when(side > 0, qty).otherwise(F.lit(0.0))).alias("buy_vol"),
        F.sum(F.when(side < 0, qty).otherwise(F.lit(0.0))).alias("sell_vol"),
        F.sum(qty).alias("total_vol"),
        F.count(F.lit(1)).alias("n_trades"),
    ).withColumn(
        "vpin",
        F.abs(F.col("buy_vol") - F.col("sell_vol")) / F.col("total_vol"),
    )


@register("streaming_vpin_skewed_replay", _VPIN_SKEW_SQL)
def q_streaming_vpin_skewed_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``streaming_vpin_replay`` under a HOT KEY: the tape's symbol
    collapses to S0 for 90% of prints (``raw_nonce % 10 <> 0`` — the
    same per-row remap in the oracle's trades CTE), so the keyed state
    shuffle funnels ~90% of the stream through one state partition.
    Keyed ordered state is inherently sequential PER KEY — the scale
    question this gate pins is whether the hot key degrades gracefully
    (Arrow-batched state op streams the key's groups batch-by-batch;
    measured at sf1: within ~1.1x of the uniform twin's wall,
    docs/SCALE_NOTES.md) rather than OOMing a partition or wedging the
    micro-batch. The production remedy past graceful degradation is
    composite state keys, SKEW-DISPATCHED: when the tape's hottest key
    carries >= ``trade_stream.VPIN_COMPOSITE_ROWS`` rows (4M; hint = one
    column-pruned batch scan, ``trade_stream.tape_max_rows_per_key``),
    the state key becomes (symbol × time-epoch) — the op carries
    within-epoch accumulators only, and the associative cross-epoch
    composition (volume clock = exact sum, tick carry = last-non-null)
    runs as a batch pass over one summary row per epoch (implementation
    ``streaming/trade_stream.py:stateful_signed_buckets_composite`` /
    ``compose_epoch_buckets``). Small/uniform tapes keep the plain
    per-symbol key (epoch composition is pure overhead there). Output is
    hash-identical either way — the oracle does not change; A/B walls in
    REPLAY_DECOMP_r11, dispatch pinned in
    ``tests/test_vpin_composite.py``."""
    import uuid

    from market_microstructure_toolkit_spark.streaming.trade_stream import (
        compose_epoch_buckets,
        stateful_signed_buckets,
        stateful_signed_buckets_composite,
        tape_max_rows_per_key_cached,
        use_composite_vpin,
    )

    def build(b: str) -> list[str]:
        t = synthetic_trades(spark, sf_dir)
        skewed = t.withColumn(
            "symbol",
            F.when(F.col("raw_nonce") % 10 != 0, F.lit("S0")).otherwise(
                F.col("symbol")
            ),
        ).select(*t.columns)
        return _split2(skewed, "ts_ms", b)

    tape_base = _memo_tape(sf_dir, "trades2skew", build)
    base = _scratch(prefix="mmt_stream_vpin_skew_")
    stream = (
        spark.readStream.schema(
            "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
            " mid double, price double, qty double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
    )
    name = f"vpin_skew_{uuid.uuid4().hex[:8]}"
    # hint memoized beside the content-keyed tape: no per-invocation
    # groupBy rescan of the tape parquet
    composite = use_composite_vpin(
        tape_max_rows_per_key_cached(spark, tape_base)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # composite mode spreads the hot key over ~EPOCHS groups per batch,
    # so it WANTS shuffle width; single-key mode has ≤ n_symbols live
    # groups and extra partitions are pure scheduling overhead
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _tape_parts(spark, f"{tape_base}/data/*/", hi=32 if composite else 4),
    )
    try:
        if composite:
            # ts range from parquet row-group statistics (metadata pull,
            # exact for INT64) — a Spark min/max agg would be a full
            # scheduled job per invocation on a tape whose footers
            # already carry the answer. Fallback: stats absent.
            rng = parquet_col_range(f"{tape_base}/data/*/", "ts_ms")
            if rng is None:
                lo, hi = (
                    spark.read.parquet(f"{tape_base}/data/*/")
                    .agg(F.min("ts_ms"), F.max("ts_ms"))
                    .first()
                )
            else:
                lo, hi = rng
            # ~256 epochs across the tape: enough groups to saturate
            # local[32] per micro-batch, few enough that the composer's
            # summary window stays trivially small
            epoch_ms = max(1, -(-(int(hi) - int(lo) + 1) // 256))
            emitted = replay_to_parquet(
                spark,
                stateful_signed_buckets_composite(stream, epoch_ms),
                base,
                name,
            )
            rows = compose_epoch_buckets(emitted, 50.0)
        else:
            rows = replay_to_parquet(
                spark, stateful_signed_buckets(stream, 50.0), base, name
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    qty, side = F.col("qty"), F.col("side")
    return rows.groupBy(*KEYS, "bucket").agg(
        F.sum(F.when(side > 0, qty).otherwise(F.lit(0.0))).alias("buy_vol"),
        F.sum(F.when(side < 0, qty).otherwise(F.lit(0.0))).alias("sell_vol"),
        F.sum(qty).alias("total_vol"),
        F.count(F.lit(1)).alias("n_trades"),
    ).withColumn(
        "vpin",
        F.abs(F.col("buy_vol") - F.col("sell_vol")) / F.col("total_vol"),
    )


@register("streaming_vpin_two_stage_replay", _VPIN_SQL)
def q_streaming_vpin_two_stage_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VPIN with the two stateful operators UN-fused: stage 1 streams
    the tape through ``stateful_lee_ready`` alone (tick-rule state) and
    lands each micro-batch in a handoff directory via ``foreachBatch``;
    stage 2 streams the handoff through ``stateful_volume_buckets``
    alone (volume-clock state). This is the production shape when the
    two operators live in separate jobs joined by a topic/landing zone —
    and the only way to chain two ``applyInPandasWithState`` operators,
    which Structured Streaming limits to one per stream (the in-plan
    chain needs ``transformWithStateInPandas``, blocked in this
    environment by the missing google.protobuf dependency — see
    ``streaming/trade_stream_tws.py``). Hash-matching the SAME batch
    oracle as the fused ``streaming_vpin_replay`` proves fused and
    un-fused compositions agree, with BOTH state tuples still crossing
    a micro-batch boundary (the handoff keeps stage 1's two-batch
    structure, mtime-stamped)."""
    import uuid

    from market_microstructure_toolkit_spark.streaming.trade_stream import (
        stateful_lee_ready,
        stateful_volume_buckets,
    )

    tape_base = _tape2(spark, sf_dir, "trades2")
    base = _scratch(prefix="mmt_stream_vpin2_")
    schema = (
        "exchange_id string, symbol string, ts_ms long, raw_nonce long,"
        " mid double, price double, qty double"
    )
    stream1 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
    )

    def land(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.coalesce(1).write.parquet(f"{base}/signed/b{batch_id}")

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _tape_parts(spark, f"{tape_base}/data/*/", hi=4),
    )
    try:
        q1 = (
            stateful_lee_ready(stream1)
            .writeStream.foreachBatch(land)
            .option("checkpointLocation", f"{base}/ckpt1")
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q1, "foreachBatch replay")
        import os

        # numeric batch order — lexicographic would scramble 'b10' < 'b2'
        # once a tape has >= 10 micro-batches
        chunk_dirs = [
            f"{base}/signed/b{i}"
            for i in sorted(
                int(d[1:])
                for d in os.listdir(f"{base}/signed")
                if d.startswith("b")
            )
        ]
        _stamp_batch_order(*chunk_dirs)
        stream2 = (
            spark.readStream.schema(schema + ", side int")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/signed/*/")
        )
        name = f"vpin2_replay_{uuid.uuid4().hex[:8]}"
        # input-sized output (per-trade rows) -> parquet sink
        rows = replay_to_parquet(
            spark, stateful_volume_buckets(stream2, 50.0), base, name
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    qty, side = F.col("qty"), F.col("side")
    return rows.groupBy(*KEYS, "bucket").agg(
        F.sum(F.when(side > 0, qty).otherwise(F.lit(0.0))).alias("buy_vol"),
        F.sum(F.when(side < 0, qty).otherwise(F.lit(0.0))).alias("sell_vol"),
        F.sum(qty).alias("total_vol"),
        F.count(F.lit(1)).alias("n_trades"),
    ).withColumn(
        "vpin",
        F.abs(F.col("buy_vol") - F.col("sell_vol")) / F.col("total_vol"),
    )


@register("streaming_cdc_replay", _CDC_SQL)
def q_streaming_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC merge computed by the STREAMING tier: the base snapshot
    (ver 0) arrives as micro-batch one and the derived change batch
    (ver 1: revisions, deletes, backfills — same derivation as
    documents_cdc_apply) as micro-batch two, through the keyed
    latest-version state operator (corpus_stream.stateful_cdc_apply).
    Each batch emits the post-batch winner per touched key; the
    materialized view keeps each key's final emission and drops delete
    winners. Hash-matching the BATCH oracle proves upsert/delete state
    carries across the micro-batch boundary — the live ingestion twin
    of the one-shot merge."""
    import uuid

    from market_microstructure_toolkit_spark.streaming.corpus_stream import (
        stateful_cdc_apply,
    )

    docs = plant_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    did = F.col("doc_id")
    payload = ["doc_id", "text", "lang", "source", "n_chars"]
    base = docs.select(
        *payload, F.lit(0).cast("long").alias("ver"), F.lit("U").alias("op")
    )
    upd = docs.filter((did % 7 == 0) & (did % 13 != 0)).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 7).alias("n_chars"),
        F.lit(1).cast("long").alias("ver"),
        F.lit("U").alias("op"),
    )
    dels = docs.filter(did % 13 == 0).select(
        *payload, F.lit(1).cast("long").alias("ver"), F.lit("D").alias("op")
    )
    ins = docs.filter(did % 11 == 0).select(
        (did + 10_000_000).alias("doc_id"),
        "text",
        "lang",
        F.lit("cdc_backfill").alias("source"),
        "n_chars",
        F.lit(1).cast("long").alias("ver"),
        F.lit("U").alias("op"),
    )
    changes = upd.unionByName(dels).unionByName(ins)

    def build(b: str) -> list[str]:
        base.coalesce(1).write.parquet(f"{b}/data/a")
        changes.coalesce(1).write.parquet(f"{b}/data/b")
        return [f"{b}/data/a", f"{b}/data/b"]

    tape_base = _memo_tape(sf_dir, "cdc2", build)
    base_dir = _scratch(prefix="mmt_stream_cdc_")  # per-run checkpoint

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, ver long, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
    )
    name = f"cdc_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # doc-keyed state: partitions scale with input size (parquet footer
    # rowcount — a metadata pull, no Spark count job; plants are
    # row-preserving), not a pinned constant; see _stream_parts
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _stream_parts(parquet_rows(f"{sf_dir}/documents.parquet")),
    )
    try:
        # input-sized output (per-doc emissions) -> parquet sink
        emitted = replay_to_parquet(
            spark, stateful_cdc_apply(stream), base_dir, name
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("ver").desc(), F.col("op").asc()
    )
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "D"))
        .select(*payload)
    )


def _late_data_sql() -> str:
    """Replicates Spark's MEASURED append-mode watermark semantics
    relationally (probed on this engine version, see gate docstring):
    the late-input filter of micro-batch N uses the watermark as of
    batch N-1 — max(event time through batch N-2) - delay — while
    eviction/emission in batch N uses max(through N-1) - delay; both
    compare window_end <= watermark. With batches A, B, C: C's late
    re-deliveries are dropped iff window_end <= max(A) - delay (the
    watermark standing when C's filter was planned), and the final
    flush emits windows with window_end <= max(all) - delay. Batch
    split and late set are deterministic (position quarters,
    raw_nonce % 17)."""
    return f"""{_BOOK_CTE},
s0 AS (SELECT ts_ms, raw_nonce FROM book WHERE symbol = 'S0'),
cuts AS (
  SELECT (MIN(ts_ms) + MAX(ts_ms)) // 2 AS t1,
         ((MIN(ts_ms) + MAX(ts_ms)) // 2 + MAX(ts_ms)) // 2 AS t2
  FROM s0
),
a AS (SELECT s0.* FROM s0, cuts WHERE ts_ms <= t1),
b AS (SELECT s0.* FROM s0, cuts WHERE ts_ms > t1 AND ts_ms <= t2),
d AS (SELECT s0.* FROM s0, cuts WHERE ts_ms > t2),
late AS (
  SELECT a.* FROM a, (SELECT MAX(ts_ms) AS ma FROM a) m
  WHERE raw_nonce % 17 = 0 OR ts_ms > m.ma - 3000
),
wm_c AS (SELECT MAX(ts_ms) - 2000 AS w FROM a),
wmf AS (SELECT MAX(ts_ms) - 2000 AS w FROM s0),
accepted AS (
  SELECT ts_ms FROM a
  UNION ALL SELECT ts_ms FROM b
  UNION ALL SELECT ts_ms FROM d
  UNION ALL
  SELECT l.ts_ms FROM late l, wm_c
  WHERE (l.ts_ms // 1000 * 1000 + 1000) > wm_c.w
)
SELECT ts_ms // 1000 * 1000 AS window_start_ms,
       COUNT(*) AS n_rows
FROM accepted, wmf
WHERE (ts_ms // 1000 * 1000 + 1000) <= wmf.w
GROUP BY ts_ms // 1000 * 1000
"""


@register("streaming_late_data_replay", _late_data_sql())
def q_streaming_late_data_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode event-time windows WITH WATERMARK — the late-data
    semantic the complete-mode windowed gate can't pin. Three
    micro-batches split at event-time value cuts (midpoint and third
    quartile of the S0 tape's ts range — value-based like the
    sessionize replay, no global rank window): A, then B (its only job
    is advancing the watermark a full batch), then C PLUS a
    deterministic re-delivery of A rows (raw_nonce % 17 across all of
    A, plus rows within 3 s of A's final tick so the accept branch
    always has witnesses too). Probed on this engine version: the late-input filter of batch
    N is planned with the watermark as of batch N-1 (so a 2-batch
    design never drops anything — the re-delivery must arrive two
    batches after its data), eviction uses batch N's watermark, and
    both compare window_end <= watermark. C's re-deliveries into
    windows finalized under max(A) - 2 s must be DROPPED
    (numRowsDroppedByWatermark in the progress log), any landing in a
    still-open window COUNTED ONCE, and only windows closed under the
    final watermark emitted. The oracle replicates all three measured
    rules relationally — the contract a billing or surveillance
    pipeline on this engine depends on."""
    import uuid

    def build(bdir: str) -> list[str]:
        s0 = (
            synthetic_book(spark, sf_dir)
            .filter(F.col("symbol") == "S0")
            .select("ts_ms", "raw_nonce")
            .persist()
        )
        try:
            rng = s0.agg(
                F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")
            ).collect()[0]
            t1 = (rng["lo"] + rng["hi"]) // 2
            t2 = (t1 + rng["hi"]) // 2
            a = s0.filter(F.col("ts_ms") <= t1)
            b = s0.filter((F.col("ts_ms") > t1) & (F.col("ts_ms") <= t2))
            d = s0.filter(F.col("ts_ms") > t2)
            # nonce-sampled rows spread over A (deep-late -> dropped)
            # PLUS rows within 3 s of A's LAST tick (that tick's window
            # end = max(A) rounded up exceeds the wm max(A) - 2 s, so it
            # is still open -> the re-delivery must be COUNTED) — both
            # branches of the drop rule get witnesses at every scale
            # factor, even on this ~17-min-spaced tape where a band near
            # the t1 cut holds no rows at all
            max_a = a.agg(F.max("ts_ms").alias("m")).collect()[0]["m"]
            late = a.filter(
                (F.col("raw_nonce") % 17 == 0)
                | (F.col("ts_ms") > max_a - 3000)
            )
            a.coalesce(1).write.parquet(f"{bdir}/data/a")
            b.coalesce(1).write.parquet(f"{bdir}/data/b")
            d.unionByName(late).coalesce(1).write.parquet(f"{bdir}/data/c")
        finally:
            s0.unpersist()
        return [f"{bdir}/data/a", f"{bdir}/data/b", f"{bdir}/data/c"]

    tape_base = _memo_tape(sf_dir, "late3", build)
    base = _scratch(prefix="mmt_stream_late_")  # per-run checkpoint

    stream = (
        spark.readStream.schema("ts_ms long, raw_nonce long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tape_base}/data/*/")
    )
    agg = (
        stream.select(F.timestamp_millis(F.col("ts_ms")).alias("et"))
        .withWatermark("et", "2 seconds")
        .groupBy(F.window("et", "1 second").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_rows",
        )
    )
    name = f"late_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=8)
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, "memory-sink replay")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


_WM_DEDUP_SQL = """
SELECT event_id, user_id, event_type FROM events
WHERE NOT (event_id % 487 = 485 AND event_id >= 972)
"""


@register("streaming_dedup_watermark_replay", _WM_DEDUP_SQL)
def q_streaming_dedup_watermark_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Built-in watermark-bounded streaming dedup
    (``dropDuplicatesWithinWatermark``) — the production alternative to
    the custom keyed-state dedup of ``streaming_dedup_replay`` when
    duplicates arrive within a bounded event-time horizon (re-delivered
    webhooks, at-least-once buses): state is EVICTED once the watermark
    passes, so it holds only the horizon's keys, not every key ever
    seen — the property that keeps a year-long stream's state from
    growing without bound.

    Replay: the tape in 3 event-time batches; every 7th event of batch
    k is re-injected into batch k+1, so the duplicate and its original
    are always in DIFFERENT micro-batches — suppression across the
    batch boundary is state, not batch-local distinct. The watermark
    delay exceeds the tape's whole span, so no state evicts before its
    duplicate arrives and the streaming answer equals the batch
    DISTINCT — which is the oracle (the events projection over
    unique-id rows). Spark 4.1 watermark semantics (batch-lagged late
    filter) are irrelevant here by construction: nothing is ever late
    under the over-long delay.

    The F7 duplicate-id plant (two DIFFERENT rows sharing an event_id)
    is excluded from THIS gate's input on both engines: the injected
    duplicates are full-row copies, so any surviving representative is
    value-identical, but a planted pair's survivor depends on
    micro-batch placement (batch-local dedup picks arbitrarily) — the
    plant stays live in the batch dedup gates, where the winner is
    deterministic. Planted pairs carry event_id = v-1 for original ids
    v % 487 == 486, v >= 973, i.e. event_id % 487 == 485, >= 972; both
    members share that id, so one predicate drops the whole pair."""
    import uuid

    ev = (
        _events_fx(spark, sf_dir)
        .filter(~((F.col("event_id") % 487 == 485) & (F.col("event_id") >= 972)))
        .select("event_id", "user_id", "event_type", "ts")
    )

    def build(b: str) -> list[str]:
        evp = ev.persist()
        try:
            rng = evp.agg(
                F.min("ts").alias("lo"), F.max("ts").alias("hi")
            ).collect()[0]
            lo, hi = rng["lo"], rng["hi"]
            c1, c2 = lo + (hi - lo) // 3, lo + 2 * ((hi - lo) // 3)
            b1 = evp.filter(F.col("ts") <= c1)
            b2 = evp.filter((F.col("ts") > c1) & (F.col("ts") <= c2))
            b3 = evp.filter(F.col("ts") > c2)
            b1.coalesce(1).write.parquet(f"{b}/data/a")
            b2.unionByName(
                b1.filter(F.col("event_id") % 7 == 0)
            ).coalesce(1).write.parquet(f"{b}/data/b")
            b3.unionByName(
                b2.filter(F.col("event_id") % 7 == 0)
            ).coalesce(1).write.parquet(f"{b}/data/c")
        finally:
            evp.unpersist()
        return [f"{b}/data/a", f"{b}/data/b", f"{b}/data/c"]

    tape_base = _memo_tape(sf_dir, "events3_inject", build)
    base = _scratch(prefix="mmt_stream_wmdedup_")  # per-run checkpoint

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
        .withColumn("event_time", F.expr("timestamp_micros(ts DIV 1000)"))
        .withWatermark("event_time", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    name = f"wm_dedup_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=8)
    )
    try:
        # input-sized output (every unique event) -> parquet sink
        out = replay_to_parquet(spark, stream, base, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


_SESSION_GAP_US = 1_800_000_000  # 30 min


_SESSION_WM_US = 60_000_000  # 1 min watermark delay


_SESSION_WINDOW_SQL = f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_us
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= {_SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id) AS session_no
  FROM flagged
),
rolled AS (
  SELECT user_id,
         MIN(us) AS session_start_us,
         MAX(us) + {_SESSION_GAP_US} AS session_end_us,
         COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, session_no
)
SELECT user_id, session_start_us, session_end_us, n_events
FROM rolled
WHERE session_end_us <= (SELECT MAX(epoch_us(ts)) FROM events) - {_SESSION_WM_US}
"""


@register("streaming_session_window_replay", _SESSION_WINDOW_SQL)
def q_streaming_session_window_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark's NATIVE session windows (``session_window`` aggregate,
    state-store-merged) on a 3-batch file replay — the built-in twin of
    the relational gap-cut ``events_sessionize``: windows extend to
    last-event + 30 min, merge when a new event lands inside, and emit
    in append mode once the watermark (1 min delay) passes the window
    end. The oracle replays the same rule relationally at MICROsecond
    precision (the stream's timestamp grain — ms flooring would split
    hairline-different gaps differently) and applies the same final-
    watermark emission filter: sessions ending within 1 min of the
    tape's max event time stay open and must NOT be emitted. Session
    state is per-(user, open-window) and evicts at the watermark — the
    bounded-memory contract that makes this the production sessionizer
    for infinite streams."""
    import uuid

    ev = _events_fx(spark, sf_dir).select("event_id", "user_id", "ts")
    tape_base = _memo_tape(
        sf_dir, "events3_sess", lambda b: _split3(ev, "ts", b)
    )
    base = _scratch(prefix="mmt_stream_sesswin_")  # per-run checkpoint

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tape_base}/data/*/")
        .withColumn("event_time", F.expr("timestamp_micros(ts DIV 1000)"))
        .withWatermark("event_time", "1 minute")
        .groupBy(
            F.session_window("event_time", "30 minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )
    name = f"sesswin_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=8)
    )
    try:
        # session rows scale with user cardinality (which scales with
        # data) -> parquet sink
        out = replay_to_parquet(spark, stream, base, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


@register("streaming_foreachbatch_upsert", _CDC_SQL)
def q_streaming_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The standard streaming-MERGE recipe: a change stream applied to a
    versioned parquet table via ``foreachBatch`` — each micro-batch
    reads snapshot v_i, merges with apply_cdc, writes v_{i+1} (the
    copy-on-write loop Delta's MERGE INTO runs inside foreachBatch in
    every production upsert pipeline; snapshot versioning stands in for
    the transaction log on bare parquet). The change derivation is the
    CDC fixture's (revisions %7, deletes %13, backfills %11), split
    into two key-disjoint micro-batches, so the sequential per-batch
    merge provably equals the one-shot batch merge — which is the
    oracle (_CDC_SQL, shared with documents_cdc_apply and
    streaming_cdc_replay: three execution tiers, one truth).
    Idempotence note: a replayed batch id would rewrite the same
    v_{i+1} from the same v_i — the versioned layout is what makes the
    sink effectively exactly-once."""
    import uuid

    from market_microstructure_toolkit_spark.operators.cdc import apply_cdc

    docs = plant_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    did = F.col("doc_id")
    payload = ["doc_id", "text", "lang", "source", "n_chars"]
    upd = docs.filter((did % 7 == 0) & (did % 13 != 0)).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 7).alias("n_chars"),
        F.lit("U").alias("op"),
    )
    dels = docs.filter(did % 13 == 0).select(
        *payload, F.lit("D").alias("op")
    )
    ins = docs.filter(did % 11 == 0).select(
        (did + 10_000_000).alias("doc_id"),
        "text",
        "lang",
        F.lit("cdc_backfill").alias("source"),
        "n_chars",
        F.lit("U").alias("op"),
    )

    base_dir = _scratch(prefix="mmt_stream_febatch_")
    docs.select(*payload).write.parquet(f"{base_dir}/tbl/v0")
    upd.coalesce(1).write.parquet(f"{base_dir}/data/a")
    dels.unionByName(ins).coalesce(1).write.parquet(f"{base_dir}/data/b")
    _stamp_batch_order(f"{base_dir}/data/a", f"{base_dir}/data/b")

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base_dir}/data/*/")
    )
    state = {"v": 0}

    def merge(batch_df, batch_id) -> None:
        cur = spark.read.parquet(f"{base_dir}/tbl/v{state['v']}")
        merged = apply_cdc(cur, batch_df, "doc_id", op_col="op")
        merged.write.parquet(f"{base_dir}/tbl/v{state['v'] + 1}")
        state["v"] += 1

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _stream_parts(
            parquet_rows(f"{sf_dir}/documents.parquet"), lo=2, hi=16
        ),
    )
    try:
        q = (
            stream.writeStream.foreachBatch(merge)
            .option(
                "checkpointLocation", f"{base_dir}/ckpt_{uuid.uuid4().hex[:8]}"
            )
            .trigger(availableNow=True)
            .start()
        )
        await_replay(q, "memory-sink replay")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(f"{base_dir}/tbl/v{state['v']}")


_STREAM_OUTER_JOIN_SQL = """
WITH wm AS (
  -- the join's watermark is the MIN over both input streams' (max event
  -- time - delay); the alert side is the sparse one (alerts are a
  -- subset of events, so its max is <= the left's)
  SELECT MAX(epoch_ms(ts)) - 60000 AS w FROM events WHERE value > 140
),
l AS (SELECT event_id AS l_event_id, user_id AS u, epoch_ms(ts) AS t FROM events),
r AS (
  SELECT event_id AS r_alert_id, user_id AS u, epoch_ms(ts) AS s
  FROM events WHERE value > 140
),
matched AS (
  SELECT l.l_event_id, r.r_alert_id
  FROM l JOIN r ON l.u = r.u AND r.s >= l.t - 300000 AND r.s <= l.t
),
unmatched AS (
  -- per-ROW anti-join, not NOT IN on the id: the F7 duplicate-id plant
  -- makes two different left rows share an event_id, and if one matches
  -- while the other does not, the unmatched ROW must still emit (the
  -- stream-stream join keys state on rows, not ids)
  SELECT l.l_event_id, CAST(NULL AS BIGINT) AS r_alert_id
  FROM l CROSS JOIN wm
  WHERE NOT EXISTS (
    SELECT 1 FROM r
    WHERE r.u = l.u AND r.s >= l.t - 300000 AND r.s <= l.t
  )
    AND l.t <= wm.w
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


@register("streaming_outer_join_replay", _STREAM_OUTER_JOIN_SQL)
def q_streaming_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with a time-range condition — the
    semantically hardest streaming join: matches emit as they happen,
    but a NULL row for an unmatched left can only emit once the
    watermark proves no future right can still match it. The 3-batch
    availableNow replay pins Spark 4.1's MEASURED emission rule (probed
    the same way as the late-data gate): the join's eviction watermark
    is the MIN over BOTH input streams' (max seen event time - delay) —
    here the sparse alert side, whose last event trails the tape — and
    unmatched lefts at-or-below that final watermark emit null rows;
    lefts above it (including everything after the last alert) remain
    in state unemitted. The oracle replays exactly that: inner matches
    plus null rows for unmatched lefts at-or-below the min-side
    watermark. At scale this is THE join for enrichment against a
    sparse reference stream where absence is itself a signal (no alert
    within the window), with state bounded by the watermark horizon on
    both sides."""
    import uuid

    ev = _events_fx(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    tape_base = _memo_tape(
        sf_dir, "events3_oj", lambda b: _split3(ev, "ts", b)
    )
    base = _scratch(prefix="mmt_stream_oj_")  # per-run checkpoint

    def mkstream():
        return (
            spark.readStream.schema(
                "event_id long, user_id long, ts long, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tape_base}/data/*/")
        )

    et = F.timestamp_millis(F.expr("ts DIV 1000000"))
    left = mkstream().select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user"),
        et.alias("l_time"),
    ).withWatermark("l_time", "1 minute")
    right = (
        mkstream()
        .filter(F.col("value") > 140)
        .select(
            F.col("event_id").alias("r_alert_id"),
            F.col("user_id").alias("r_user"),
            et.alias("r_time"),
        )
        .withWatermark("r_time", "1 minute")
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_time") >= F.col("l_time") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("r_time") <= F.col("l_time")),
        "leftOuter",
    ).select("l_event_id", "r_alert_id")
    name = f"oj_replay_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", _tape_parts(spark, f"{tape_base}/data/*/", hi=8)
    )
    try:
        # input-sized output (one row per left event) -> parquet sink
        out = replay_to_parquet(spark, joined, base, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out
