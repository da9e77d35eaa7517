"""Structured Streaming tier tests: file-source replay of the synthetic
book, stateful OFI parity with the batch operator (state must carry
correctly across micro-batch boundaries), windowed aggregates, and the
checkpointed recorder sink."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from market_microstructure_toolkit_spark import schema as S
from market_microstructure_toolkit_spark.operators import window_metrics as W
from market_microstructure_toolkit_spark.plans.book import BOOK_DEPTH, synthetic_book
from market_microstructure_toolkit_spark.streaming.book_stream import (
    read_book_stream,
    record_stream,
    stateful_ofi,
    windowed_book_metrics,
)


@pytest.fixture(scope="module")
def book_chunks_dir(spark, sf_dir, tmp_path_factory):
    """The sf0.001 synthetic book written as two time-ordered parquet
    files so the stream replays it across >=2 micro-batches."""
    out = tmp_path_factory.mktemp("book_stream_in")
    book = synthetic_book(spark, sf_dir).orderBy("ts_ms", "raw_nonce")
    rows = book.collect()
    half_ts = rows[len(rows) // 2]["ts_ms"]
    early = book.filter(F.col("ts_ms") <= half_ts)
    late = book.filter(F.col("ts_ms") > half_ts)
    assert early.count() > 0 and late.count() > 0
    early.coalesce(1).write.parquet(str(out / "chunk_a"))
    time.sleep(0.05)  # file-source orders by modification time
    late.coalesce(1).write.parquet(str(out / "chunk_b"))
    return str(out)


def _run_available_now(writer, query_name: str):
    q = writer.queryName(query_name).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert not q.isActive
    return q


def test_stateful_ofi_matches_batch(spark, sf_dir, book_chunks_dir, tmp_path):
    stream = read_book_stream(
        spark, book_chunks_dir + "/*/", BOOK_DEPTH, max_files_per_trigger=1
    )
    out = stateful_ofi(stream)
    _run_available_now(
        out.writeStream.format("memory")
        .option("checkpointLocation", str(tmp_path / "ckpt")),
        "ofi_stream",
    )
    got = {
        (r["symbol"], r["ts_ms"], r["raw_nonce"]): r["ofi_l1"]
        for r in spark.table("ofi_stream").collect()
    }

    book = synthetic_book(spark, sf_dir)
    w = W.book_window(order_col=["ts_ms", "raw_nonce"])
    want_rows = book.select(
        "symbol", "ts_ms", "raw_nonce",
        W.ofi_l1_expr(w, mode="strict").alias("ofi_l1"),
    ).collect()
    assert len(got) == len(want_rows)
    for r in want_rows:
        key = (r["symbol"], r["ts_ms"], r["raw_nonce"])
        if r["ofi_l1"] is None:
            assert got[key] is None, key
        else:
            assert got[key] == pytest.approx(r["ofi_l1"], abs=1e-12), key


def test_windowed_metrics_match_batch(spark, sf_dir, book_chunks_dir, tmp_path):
    stream = read_book_stream(spark, book_chunks_dir + "/*/", BOOK_DEPTH)
    agg = windowed_book_metrics(stream, window="1 second")
    _run_available_now(
        agg.writeStream.format("memory")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt")),
        "win_stream",
    )
    got = {
        (r["symbol"], r["window_start"]): r
        for r in spark.table("win_stream").collect()
    }

    book = synthetic_book(spark, sf_dir)
    spread = F.col("best_ask") - F.col("best_bid")
    mid = (F.col("best_bid") + F.col("best_ask")) / 2.0
    want = (
        book.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .groupBy(*S.PARTITION_KEYS, F.window("ts", "1 second").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.avg(mid).alias("avg_mid"),
            F.avg(spread).alias("avg_spread"),
        )
        .collect()
    )
    # watermark finalization: every batch window must appear in the stream
    # output except possibly the last open one(s) near max event time
    missing = [r for r in want if (r["symbol"], r["w"]["start"]) not in got]
    assert len(missing) <= len({r["symbol"] for r in want})
    for r in want:
        key = (r["symbol"], r["w"]["start"])
        if key not in got:
            continue
        assert got[key]["n_snapshots"] == r["n_snapshots"]
        assert got[key]["avg_mid"] == pytest.approx(r["avg_mid"], abs=1e-9)
        assert got[key]["avg_spread"] == pytest.approx(r["avg_spread"], abs=1e-9)


def test_record_stream_roundtrip(spark, book_chunks_dir, tmp_path):
    stream = read_book_stream(spark, book_chunks_dir + "/*/", BOOK_DEPTH)
    writer = record_stream(
        stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), fmt="parquet"
    )
    _run_available_now(writer, "rec_stream")
    back = spark.read.parquet(str(tmp_path / "out"))
    src = spark.read.parquet(book_chunks_dir + "/*/")
    assert back.count() == src.count()
    assert set(back.columns) == set(S.book_header(BOOK_DEPTH))
    # exactly-once: re-running the same availableNow query adds nothing
    writer2 = record_stream(
        read_book_stream(spark, book_chunks_dir + "/*/", BOOK_DEPTH),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), fmt="parquet",
    )
    _run_available_now(writer2, "rec_stream2")
    assert spark.read.parquet(str(tmp_path / "out")).count() == src.count()


def test_rate_limited_replay_paces_micro_batches(spark, book_chunks_dir, tmp_path):
    """The production mapping of the reference recorder's --hz rate cap
    (docs/LIVE_INGESTION.md): source-side rate limiting via
    maxFilesPerTrigger. With the cap at 1 file, the two-chunk replay
    must arrive as (at least) two paced micro-batches whose input rows
    sum to exactly one copy of the source — rate limiting bounds
    per-trigger work without dropping or duplicating snapshots."""
    import json as _json

    stream = read_book_stream(
        spark, book_chunks_dir + "/*/", BOOK_DEPTH, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.format("memory")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName("rate_limited")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    progs = [
        p if isinstance(p, dict) else _json.loads(p.json)
        for p in q.recentProgress
    ]
    fed = [p for p in progs if p["numInputRows"] > 0]
    src_count = spark.read.parquet(book_chunks_dir + "/*/").count()
    assert len(fed) >= 2  # one file per trigger -> the chunks can't batch up
    assert sum(p["numInputRows"] for p in fed) == src_count
    assert spark.table("rate_limited").count() == src_count


def test_stateful_dedup_suppresses_cross_batch_duplicates(spark, tmp_path):
    """A content duplicated within batch 1 AND repeated in batch 2 emits
    exactly once, with batch 1's min id; batch-2-only content still
    emits."""
    from market_microstructure_toolkit_spark.streaming.corpus_stream import (
        stateful_exact_dedup,
    )

    a = spark.createDataFrame(
        [(1, "alpha"), (3, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(4, "alpha"), (5, "gamma"), (6, "beta")], "doc_id long, text string"
    )
    a.coalesce(1).write.parquet(str(tmp_path / "in" / "a"))
    time.sleep(0.05)
    b.coalesce(1).write.parquet(str(tmp_path / "in" / "b"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            stateful_exact_dedup(stream)
            .writeStream.format("memory")
            .queryName("dedup_test_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = spark.table("dedup_test_sink").collect()
    got = {r["canonical_doc_id"] for r in rows}
    assert got == {1, 2, 5}
    assert len(rows) == 3  # one emission per distinct content, ever


def test_stateful_dedup_null_keys(spark, tmp_path):
    """A micro-batch with NULL ids and NULL text: NULL ids never become
    canonical (a content seen only with NULL ids emits nothing), and
    NULL text is one content of its own, as in the batch GROUP BY."""
    from market_microstructure_toolkit_spark.streaming.corpus_stream import (
        stateful_exact_dedup,
    )

    sch = "doc_id long, text string"
    a = spark.createDataFrame(
        [(None, "alpha"), (3, "alpha"), (None, "beta"), (4, None)], sch
    )
    b = spark.createDataFrame(
        [(2, "alpha"), (None, "delta"), (7, "beta"), (5, None)], sch
    )
    a.coalesce(1).write.parquet(str(tmp_path / "in" / "a"))
    time.sleep(0.05)
    b.coalesce(1).write.parquet(str(tmp_path / "in" / "b"))
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stateful_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_null_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    md5 = {
        t: r[0]
        for t in ("alpha", "beta")
        for r in spark.sql(f"SELECT md5('{t}')").collect()
    }
    got = sorted(
        (r["content_hash"] or "", r["canonical_doc_id"])
        for r in spark.table("dedup_null_sink").collect()
    )
    # alpha: first seen in batch a with id 3 (the NULL id is skipped);
    # beta: batch a had only a NULL id, so batch b's 7 is canonical;
    # NULL text: 4 from batch a; delta: only a NULL id, never emitted
    assert got == sorted([(md5["alpha"], 3), (md5["beta"], 7), ("", 4)])


def test_session_window_merges_across_micro_batches(spark, tmp_path):
    """A user whose events straddle the micro-batch split must come out
    as ONE session: the session-window state store carries the open
    session into the next batch."""
    import uuid

    rows_a = [(1, 100, 0), (2, 100, 10 * 60000)]          # batch A
    rows_b = [(3, 100, 20 * 60000), (4, 100, 120 * 60000)]  # batch B
    sch = "event_id long, user_id long, ts_ms long"
    spark.createDataFrame(rows_a, sch).coalesce(1).write.parquet(
        str(tmp_path / "data" / "a")
    )
    time.sleep(0.05)
    spark.createDataFrame(rows_b, sch).coalesce(1).write.parquet(
        str(tmp_path / "data" / "b")
    )
    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "data" / "*/"))
    )
    agg = (
        stream.select(
            "user_id", F.timestamp_millis("ts_ms").alias("et")
        )
        .groupBy("user_id", F.session_window("et", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis("w.start").alias("start_ms"),
            "n_events",
        )
    )
    name = f"sess_test_{uuid.uuid4().hex[:6]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out = sorted(
        (r["start_ms"], r["n_events"])
        for r in spark.table(name).collect()
    )
    # events at 0/10/20 min merge (gaps <= 30 min); 120 min starts fresh
    assert out == [(0, 3), (120 * 60000, 1)]


def test_stateful_cdc_cross_batch_boundary(spark, tmp_path):
    """An upsert in batch 1 overridden in batch 2, a delete of a batch-1
    key, and a same-version U/D tie must resolve through STATE, not
    within one batch."""
    import time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_microstructure_toolkit_spark.streaming.corpus_stream import (
        stateful_cdc_apply,
    )

    base = str(tmp_path / "cdc")
    cols = "doc_id long, text string, lang string, source string, n_chars long, ver long, op string"
    b1 = spark.createDataFrame(
        [
            (1, "one", "en", "s", 3, 0, "U"),
            (2, "two", "en", "s", 3, 0, "U"),
            (3, "three", "en", "s", 5, 0, "U"),
        ],
        cols,
    )
    b2 = spark.createDataFrame(
        [
            (1, "one-v2", "en", "s", 6, 1, "U"),   # cross-batch override
            (2, "two", "en", "s", 3, 1, "D"),      # cross-batch delete
            (3, "three-x", "en", "s", 7, 1, "U"),  # same-ver U/D tie ->
            (3, "three", "en", "s", 5, 1, "D"),    #   delete must win
            (4, "four", "en", "s", 4, 1, "U"),     # insert
        ],
        cols,
    )
    b1.coalesce(1).write.parquet(f"{base}/data/a")
    time.sleep(0.05)
    b2.coalesce(1).write.parquet(f"{base}/data/b")

    stream = (
        spark.readStream.schema(cols)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/data/*/")
    )
    q = (
        stateful_cdc_apply(stream)
        .writeStream.format("memory")
        .queryName("cdc_unit")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("cdc_unit")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("ver").desc(), F.col("op").asc()
    )
    final = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("doc_id", "text")
    )
    got = {r["doc_id"]: r["text"] for r in final.collect()}
    assert got == {1: "one-v2", 4: "four"}


class TestStreamStreamOuterJoin:
    def test_nulls_held_past_min_side_watermark(self, spark, sf_dir):
        """Left rows after the last alert's watermark must NOT have
        emitted null rows (their state is still open), while every
        unmatched left below it must have — the measured min-side
        watermark rule the oracle encodes."""
        from pyspark.sql import functions as F

        from market_microstructure_toolkit_spark.plans.queries import REGISTRY
        from market_microstructure_toolkit_spark.sources.events import (
            read_events,
        )

        out = REGISTRY["streaming_outer_join_replay"].spark(spark, sf_dir)
        ev = read_events(spark, sf_dir)
        wm = (
            ev.filter(F.col("value") > 140)
            .agg((F.max(F.expr("ts DIV 1000000")) - 60000).alias("w"))
            .collect()[0]["w"]
        )
        times = {
            r.event_id: r.t
            for r in ev.select(
                "event_id", F.expr("ts DIV 1000000").alias("t")
            ).collect()
        }
        null_ids = {
            r.l_event_id
            for r in out.filter(F.col("r_alert_id").isNull()).collect()
        }
        assert null_ids
        assert all(times[i] <= wm for i in null_ids)
        # matched rows can come from ANY batch, including past the wm
        matched_ids = {
            r.l_event_id
            for r in out.filter(F.col("r_alert_id").isNotNull()).collect()
        }
        assert matched_ids and null_ids.isdisjoint(matched_ids)


def test_replay_to_parquet_empty_output_returns_empty_frame(
    spark, book_chunks_dir, tmp_path
):
    """An all-rows-filtered replay commits only _spark_metadata; the
    sink read must return an EMPTY frame with the stream's schema, not
    raise 'unable to infer schema' (round-9 advice — the memory sink it
    replaced returned an empty table)."""
    from market_microstructure_toolkit_spark.plans.base import (
        replay_to_parquet,
    )

    stream = read_book_stream(
        spark, f"{book_chunks_dir}/chunk_*", BOOK_DEPTH,
        max_files_per_trigger=1,
    ).filter(F.lit(False))
    out = replay_to_parquet(
        spark, stream, str(tmp_path / "empty_replay"), "empty"
    )
    assert out.count() == 0
    assert len(out.columns) > 0


def test_sessionize_gate_rocksdb_state_parity(spark, sf_dir):
    """The RocksDB state store (the century-scale state path,
    SPARK_GRAFT_STATE_STORE=rocksdb) produces EXACTLY the rows of the
    default heap store on the sessionize replay gate — a storage-
    provider decision, never a semantic one. Also exercises the
    foreachBatch complete-mode parquet sink that replaced the
    driver-heap memory sink (round 13: the heap store + memory sink
    OOMed a 40 GB driver at sf100)."""
    from market_microstructure_toolkit_spark.plans.queries import REGISTRY

    gate = REGISTRY["streaming_sessionize_replay"].spark
    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key)
    heap = sorted(map(repr, gate(spark, sf_dir).collect()))
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = sorted(map(repr, gate(spark, sf_dir).collect()))
    finally:
        spark.conf.set(key, default)
    assert rocks == heap
    assert len(rocks) > 0


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _dedup_replay_files(spark, tmp_path, manager: str) -> tuple[set, int, list]:
    """Replay two files through a stateful dedup into a parquet sink under
    ``manager``, then restart the query from its checkpoint. Returns the
    file set under the run (UUIDs masked), the sink's row count, and the
    restart's per-batch input rows."""
    import re

    from market_microstructure_toolkit_spark.plans import base as B

    src = tmp_path / "in"
    for part, ks in (("a", [1, 2, 2, 3]), ("b", [3, 4, 5])):
        spark.createDataFrame([(k, k * 10) for k in ks], "k long, v long").coalesce(
            1
        ).write.parquet(str(src / part))
        time.sleep(0.05)

    def replay():
        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        return B.replay_to_parquet(
            spark, stream.dropDuplicates(["k"]), str(tmp_path / "run"), "dedup"
        )

    prev = {k: spark.conf.get(k) for k in (_CKPT_MANAGER, "spark.sql.shuffle.partitions")}
    spark.conf.set(_CKPT_MANAGER, manager)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        n = replay().count()
        assert replay().count() == n
        restart_rows = [p["numInputRows"] for p in B.LAST_PROGRESS]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    run = tmp_path / "run"
    files = {uuid.sub("<id>", str(p.relative_to(run))) for p in run.rglob("*") if p.is_file()}
    return files, n, restart_rows


def test_checkpoint_layout_matches_file_context_manager(spark, tmp_path):
    """The session's FileSystem-based checkpoint manager writes the same
    offsets, commits, sources, state deltas (with their checksums) and
    sink log as Spark's FileContext default, and a restart from its
    committed checkpoint replays nothing."""
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    assert spark.conf.get(_CKPT_MANAGER) == pkg + "FileSystemBasedCheckpointFileManager"
    fs_files, fs_rows, fs_restart = _dedup_replay_files(
        spark, tmp_path / "fs", pkg + "FileSystemBasedCheckpointFileManager"
    )
    fc_files, fc_rows, _ = _dedup_replay_files(
        spark, tmp_path / "fc", pkg + "FileContextBasedCheckpointFileManager"
    )
    assert fs_rows == fc_rows == 5
    assert sum(fs_restart) == 0
    for needed in ("offsets/1", "commits/1", "sources/0/0", "_spark_metadata/1"):
        assert any(f.endswith(needed) for f in fs_files), (needed, sorted(fs_files))
    assert any(f.endswith(".delta") for f in fs_files)
    assert any(f.endswith(".delta.crc") for f in fs_files)
    assert fs_files == fc_files, sorted(fs_files ^ fc_files)
