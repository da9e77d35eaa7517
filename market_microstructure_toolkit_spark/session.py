"""SparkSession factory with scale-oriented defaults.

Tuned for correctness tests on ``local[*]`` while keeping every setting one
a 1000-executor cluster would also want: AQE on (runtime shuffle-partition
coalescing + skew-join splitting), Arrow for any pandas interchange, and a
shuffle-partition count that AQE can shrink.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults for a local[N] session; on a real cluster the same keys are
# what you would tune. Shuffles start at a fixed partition count that AQE
# coalesces at runtime toward one task per core (parallelismFirst), and
# the per-partition floor below keeps that target in force for small
# shuffles.
_DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # The coalescing floor defaults to 1 MB, which sizes partitions by
    # bytes: a window shuffle of well under 1 MB per key would be packed
    # into fewer tasks than it has keys. A sliding frame costs CPU per
    # row, not per byte, so the floor stays near zero and every symbol
    # of the book windows keeps a task (a core) of its own.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Wide book schemas (8 + 4K cols at K=100 -> 408 cols) stress codegen;
    # keep whole-stage codegen on but allow fallback instead of failure.
    "spark.sql.codegen.fallback": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # The driver's parquet stores TIMESTAMP(NANOS). Older Spark rejects it
    # without this conf (reads as epoch-nanos longs); Spark >= 4.1 ignores
    # the conf and surfaces TIMESTAMP_NTZ instead. sources/events.py
    # normalizes either arrival type — the conf stays for older deployments.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Broadcast joins for dimension tables / slice targets.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # sizing only, never semantics: 8g covers every <=sf1 workload; the
    # sf10 decade probes run 10M-row streaming tapes in this one local
    # JVM and need more — override via env (mirrors the oracle
    # harness's SPARK_GRAFT_ORACLE_DRIVER_MEM)
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # sizing only, never semantics: the 1g default caps collect() at
    # ~1 GiB of task results, which a WIDE input-sized result (the
    # 25-column book roundtrip gates, ~2.1 GiB serialized at sf10's
    # 10M rows) exceeds while narrow 10M-row collects pass. Oracle
    # value probes are the only full-result collects in the repo; on a
    # production cluster results this size go through a sink, not the
    # driver (plans/base.py:replay_to_parquet is exactly that pattern).
    "spark.driver.maxResultSize": os.environ.get(
        "SPARK_GRAFT_MAX_RESULT", "4g"
    ),
    # keep stdout/stderr clean for harnesses that parse bench output
    "spark.ui.showConsoleProgress": "false",
    # managed (bucketed) tables land outside the repo checkout
    "spark.sql.warehouse.dir": "/tmp/mmt_spark_warehouse",
    # reliable checkpoint() files (the disk-dispatched connected-
    # components path, operators/dedup.py) are otherwise never deleted
    # for the app's lifetime — one stranded label set per CC round. The
    # ContextCleaner reads this at SparkContext construction, so it must
    # be a session-build conf, not a runtime set.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # workers import the package (daemon, pickled callbacks) from any cwd
    "spark.executorEnv.PYTHONPATH": _PACKAGE_PARENT,
    # workers skip pyspark.zip's per-task re-read (~0.15 s on CPython 3.11)
    "spark.python.daemon.module": "market_microstructure_toolkit_spark.worker_daemon",
    # ~10 ms per streaming checkpoint/log file against FileContext's ~34 ms
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


# Confs that query plans REQUIRE for correct results regardless of which
# SparkSession they are handed (a harness may inject its own session that
# never saw _DEFAULT_CONFS). All are runtime-settable in Spark 4.
_RUNTIME_REQUIRED_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); older Spark raises
    # PARQUET_TYPE_ILLEGAL on read without this (newer Spark ignores it
    # and reads TIMESTAMP_NTZ — sources/events.py adapts to both).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # date/ntz -> timestamp casts and epoch extraction must agree with
    # the (timezone-free) DuckDB oracles.
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the confs query plans depend on to ANY session.

    Safe to call per-query: ``spark.conf.set`` on an already-set value is a
    no-op, and failures (e.g. a conf marked static on some deployment) are
    swallowed so a session that already works keeps working.
    """
    for k, v in _RUNTIME_REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static-conf deployments
            pass
    return spark


def get_spark(app_name: str = "mmt-spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    Extra conf kwargs override the defaults (dots replaced by passing the
    full key as the kwarg name is impossible; pass via ``extra_conf`` dict
    expansion with valid identifiers is not needed — use ``configure``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Century-scale streaming state: SPARK_GRAFT_STATE_STORE=rocksdb
    # swaps the default heap-backed HDFS state store for RocksDB
    # (native memory + local disk, bundled rocksdbjni). The heap store
    # OOMed a 40 GB driver on streaming_sessionize_replay at sf100 —
    # complete-mode session_window state (no watermark eviction) holds
    # every open session of a 100M-event tape on-heap. Runtime conf,
    # read per query start, so it also applies to a reused session.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").strip().lower() == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    return spark
