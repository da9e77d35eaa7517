"""SparkSession factory with scale-oriented defaults.

Tuned for correctness tests on ``local[*]`` while keeping every setting one
a 1000-executor cluster would also want: AQE on (runtime shuffle-partition
coalescing + skew-join splitting), Arrow for any pandas interchange, and a
shuffle-partition count that AQE can shrink.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import warnings

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
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


def _archive_key(spark_home: str) -> str:
    """What the JVM checks before it maps a dynamic class-data archive:
    its own build (the ``java`` that ``spark-class`` runs, found through
    ``JAVA_HOME`` and then ``PATH``, and that JDK's ``release`` file) and
    the classpath's jars (name, size and mtime of each)."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java") or "java"
    java = os.path.realpath(java)
    h = hashlib.sha256(java.encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
        h.update(f.read())
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:32]


def _class_archive(extra_conf: dict[str, str]) -> tuple[str, str] | None:
    """``(archive path, empty conf dir)`` for this launch, or None to
    leave it as it is (see ``get_spark``). The archive (JEP 350) is install
    state under ``$XDG_CACHE_HOME``. Spark puts the conf dir on the
    classpath, and the JVM neither dumps nor maps an archive while a
    non-empty directory is on it; Spark reads no ``*.template``, so an
    empty directory stands in for a default one that holds only those."""
    if SparkContext._gateway is not None or any(
        k in os.environ for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")
    ):
        return None
    if {"spark.driver.extraJavaOptions", "spark.driver.extraClassPath"} & extra_conf.keys():
        return None
    try:
        spark_home = _find_spark_home()
        default_conf = os.path.join(spark_home, "conf")
        if os.path.isdir(default_conf) and not all(
            n.endswith(".template") for n in os.listdir(default_conf)
        ):
            return None
        cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        root = os.path.join(cache, "market_microstructure_toolkit_spark", "cds")
        conf_dir = os.path.join(root, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(root, os.W_OK) or os.listdir(conf_dir):
            return None
        # a dump whose process died before its rename
        for tmp in glob.glob(os.path.join(root, "*.tmp")):
            try:
                os.kill(int(tmp.rsplit(".", 2)[1]), 0)
            except (ValueError, ProcessLookupError):
                os.remove(tmp)
            except PermissionError:
                pass
        return os.path.join(root, _archive_key(spark_home) + ".jsa"), conf_dir
    except OSError:
        return None


def _dump_class_archive(spark: SparkSession, jsa: str) -> None:
    """Dump the driver's loaded classes to ``jsa`` through the DiagnosticCommand
    MBean's ``vmCds`` (the JVM runs with ``-XX:+RecordDynamicDumpInfo``), under
    a per-process name and then renamed, so no start maps a torn file."""
    gw, jvm = spark.sparkContext._gateway, spark.sparkContext._jvm
    tmp = f"{jsa[:-4]}.{os.getpid()}.tmp"

    def array(cls, *items):
        arr = gw.new_array(cls, len(items))
        for i, item in enumerate(items):
            arr[i] = item
        return arr

    cls = jvm.java.lang.Class
    # the platform server's class is not exported; call through its interface
    sig = ("javax.management.ObjectName", "java.lang.String",
           "[Ljava.lang.Object;", "[Ljava.lang.String;")
    invoke = cls.forName("javax.management.MBeanServerConnection").getMethod(
        "invoke", array(cls, *map(cls.forName, sig))
    )
    strings = jvm.java.lang.String
    args = array(
        jvm.java.lang.Object,
        jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "vmCds",
        array(jvm.java.lang.Object, array(strings, "dynamic_dump", tmp)),
        array(strings, sig[3]),
    )
    system = jvm.java.lang.System
    out = system.out
    # the dump reports itself on System.out, which is the caller's stdout
    system.setOut(jvm.java.io.PrintStream(jvm.java.io.OutputStream.nullOutputStream()))
    try:
        invoke.invoke(jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(), args)
        os.replace(tmp, jsa)
    except (Py4JError, OSError) as e:  # the session works without the archive
        warnings.warn(f"class-data archive not written: {e!r}")
        if os.path.exists(tmp):
            os.remove(tmp)
    finally:
        system.setOut(out)


def _launch(builder: SparkSession.Builder, jsa: str, conf_dir: str, dump: bool) -> SparkSession:
    """Start the driver JVM mapping the archive ``jsa``, or recording the
    classes it loads for a dump to ``jsa`` when ``dump``."""
    # -Xlog:cds*=off: the JVM warns on stdout when it cannot map an
    # archive (and then starts without it)
    flag = "-XX:+RecordDynamicDumpInfo" if dump else f"-XX:SharedArchiveFile={jsa}"
    builder = builder.config("spark.driver.extraJavaOptions", f"{flag} -Xlog:cds*=off")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]


def get_spark(app_name: str = "mmt-spark", **extra_conf: str) -> SparkSession:
    """Build a ``local[N]`` SparkSession with ``_DEFAULT_CONFS`` (N from
    ``SPARK_GRAFT_CPUS``, default ``*``), or fetch the active one. Keyword
    confs override the defaults; pass dotted keys by dict expansion,
    ``get_spark("app", **{"spark.sql.shuffle.partitions": "8"})``.

    A call that launches the driver JVM maps a cached class-data archive
    of an earlier launch, about halving the start, or records one and
    dumps it before returning, which slows that one start. When the JVM
    exits while mapping the archive, the call starts once more without
    it, recording a fresh one, and deletes the old file once that start
    succeeds. The archive is skipped
    when a JVM is already up, when the caller sets the driver's
    ``extraJavaOptions`` or ``extraClassPath``, ``SPARK_CONF_DIR`` or
    ``PYSPARK_SUBMIT_ARGS``, when the default conf dir holds more than
    ``*.template`` files, or when the cache dir cannot be written.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    archive = _class_archive(extra_conf)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        jsa, conf_dir = archive
        dump = not os.path.exists(jsa)
        try:
            spark = _launch(builder, jsa, conf_dir, dump)
        except PySparkRuntimeError as e:
            # The JVM validates an archive's header, not its contents: a
            # damaged file that passes (a truncated copy, say) crashes it
            # while mapping, before it sends its port, on every start
            # until the file goes. Start once more without it, recording a
            # fresh one. The file goes only when that start succeeds: a
            # launch that fails for another reason fails again, and then
            # leaves a good archive where it was.
            if dump or e.getCondition() != "JAVA_GATEWAY_EXITED":
                raise
            warnings.warn(f"driver JVM exited while mapping {jsa}; starting without it")
            dump = True
            spark = _launch(builder, jsa, conf_dir, dump)
            try:
                os.remove(jsa)
            except FileNotFoundError:  # a concurrent start removed it
                pass
        if dump:
            _dump_class_archive(spark, jsa)
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
