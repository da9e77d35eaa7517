"""The driver JVM's class-data archive that ``get_spark`` maps or dumps.

The archive's key must follow what the JVM validates (the JDK and the
jars) and nothing per-run; every start that is not ``get_spark``'s own
launch with the default classpath must stay untouched; a dump torn by a
dead process must never be mapped; and the written archive must be one
the JVM maps for the launch classpath, written by a first start and
mapped by the next without a line on stdout.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

from market_microstructure_toolkit_spark import session

REPO = Path(__file__).resolve().parents[1]


def _fake_spark_home(root: Path) -> Path:
    home = root / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"PK" * 8)
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    return home


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """A start that would launch its own JVM: no gateway yet, a fake
    ``SPARK_HOME`` holding only templates, a fresh cache dir."""
    home = _fake_spark_home(tmp_path)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(k, raising=False)
    return home


def test_key_follows_jars_not_java_tool_options(tmp_path, monkeypatch):
    home = _fake_spark_home(tmp_path)
    jar = home / "jars" / "a.jar"
    key = session._archive_key(str(home))
    assert key == session._archive_key(str(home))

    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-Djava.io.tmpdir=/elsewhere -XX:+PerfDisableSharedMem")
    assert session._archive_key(str(home)) == key

    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = session._archive_key(str(home))
    assert moved != key

    jar.write_bytes(b"PK" * 9)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert session._archive_key(str(home)) not in (key, moved)


def test_archive_lives_in_the_user_cache(launch, tmp_path):
    jsa, conf_dir = session._class_archive({})
    root = tmp_path / "cache" / "market_microstructure_toolkit_spark" / "cds"
    assert Path(jsa).parent == root and jsa.endswith(".jsa")
    assert Path(conf_dir) == root / "conf" and not os.listdir(conf_dir)


@pytest.mark.parametrize(
    "env, conf",
    [
        ({"SPARK_CONF_DIR": "/nonexistent"}, {}),
        ({"PYSPARK_SUBMIT_ARGS": "pyspark-shell"}, {}),
        ({}, {"spark.driver.extraJavaOptions": "-Dx=1"}),
        ({}, {"spark.driver.extraClassPath": "/x.jar"}),
    ],
)
def test_caller_launch_settings_skip_the_archive(launch, monkeypatch, env, conf):
    assert session._class_archive({}) is not None
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert session._class_archive(conf) is None


def test_a_read_conf_file_skips_the_archive(launch):
    (launch / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert session._class_archive({}) is None


def test_an_unwritable_cache_skips_the_archive(launch, tmp_path, monkeypatch):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    assert session._class_archive({}) is None


def test_no_java_skips_the_archive(launch, tmp_path, monkeypatch):
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", str(tmp_path))
    assert session._class_archive({}) is None


def test_an_active_context_skips_the_archive(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    assert session._class_archive({}) is None
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
    assert session.get_spark("mmt-tests") is spark
    assert spark.sparkContext.getConf().get("spark.driver.extraJavaOptions") == opts
    assert "SPARK_CONF_DIR" not in os.environ
    assert not (tmp_path / "cache").exists()


def test_torn_dump_is_swept_and_never_mapped(launch, tmp_path):
    jsa, _ = session._class_archive({})
    done = subprocess.Popen(["true"])
    done.wait()
    torn = Path(jsa[:-4] + f".{done.pid}.tmp")
    live = Path(jsa[:-4] + f".{os.getpid()}.tmp")
    torn.write_bytes(b"torn")
    live.write_bytes(b"in progress")
    again, _ = session._class_archive({})
    assert again == jsa and not os.path.exists(jsa)
    assert not torn.exists()
    assert live.exists()


def test_a_retry_that_fails_keeps_the_archive(launch, monkeypatch):
    """A launch that fails for a reason other than the archive fails again
    without it, and the archive stays: only a retry that starts deletes it."""
    from pyspark.errors import PySparkRuntimeError

    jsa, _ = session._class_archive({})
    Path(jsa).write_bytes(b"archive")
    dumps = []

    def exits(builder, jsa, conf_dir, dump):
        dumps.append(dump)
        raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})

    monkeypatch.setattr(session, "_launch", exits)
    with pytest.warns(UserWarning, match="exited while mapping"):
        with pytest.raises(PySparkRuntimeError):
            session.get_spark("mmt-archive-test")
    assert dumps == [False, True]
    assert Path(jsa).read_bytes() == b"archive"


_START = """
import json, sys
from market_microstructure_toolkit_spark.session import get_spark
jvm = get_spark("mmt-archive-test").sparkContext._jvm
json.dump({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "class_path": jvm.java.lang.System.getProperty("java.class.path"),
}, open(sys.argv[1], "w"))
"""


def _starter(tmp_path: Path):
    """``start(n)``: a fresh process's ``get_spark`` under a cache dir in
    ``tmp_path``; returns its JVM's arguments and class path, and the
    process's stdout."""
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), PYTHONPATH=str(REPO))

    def start(n: int) -> dict:
        out = tmp_path / f"start{n}.json"
        p = subprocess.run(
            [sys.executable, "-c", _START, str(out)],
            env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        return {**json.loads(out.read_text()), "stdout": p.stdout}

    return start


def test_first_start_dumps_and_next_start_maps(tmp_path):
    start = _starter(tmp_path)
    root = tmp_path / "cache" / "market_microstructure_toolkit_spark" / "cds"

    first = start(1)
    assert first["stdout"] == ""
    (jsa,) = root.glob("*.jsa")
    assert "-XX:+RecordDynamicDumpInfo" in first["args"]
    assert not list(root.glob("*.tmp"))
    stamp = jsa.stat().st_mtime_ns

    second = start(2)
    assert second["stdout"] == ""
    assert f"-XX:SharedArchiveFile={jsa}" in second["args"]
    assert "-XX:+RecordDynamicDumpInfo" not in second["args"]
    assert jsa.stat().st_mtime_ns == stamp
    assert second["class_path"] == first["class_path"]

    # the JVM maps it for the launch classpath, and not with the default
    # conf dir (templates only, so non-empty) in the empty one's place
    conf_dir = f"{root / 'conf'}/"
    assert second["class_path"].startswith(conf_dir + ":")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"

    def version(class_path: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={jsa}", "-cp", class_path,
             "--add-modules=jdk.incubator.vector", "-version"],
            capture_output=True, text=True, timeout=60,
        )

    assert version(second["class_path"]).returncode == 0
    from pyspark.find_spark_home import _find_spark_home

    default_conf = os.path.join(_find_spark_home(), "conf") + "/"
    if not os.listdir(default_conf):
        return
    refused = version(default_conf + second["class_path"][len(conf_dir):])
    assert refused.returncode == 1
    assert "Unable to use shared archive" in refused.stdout + refused.stderr


def test_damaged_archive_is_deleted_and_recorded_afresh(tmp_path):
    """A truncated archive passes the JVM's header check and crashes it
    while mapping; the start must still return a session and leave a
    whole archive for the next one."""
    start = _starter(tmp_path)
    root = tmp_path / "cache" / "market_microstructure_toolkit_spark" / "cds"
    start(1)
    (jsa,) = root.glob("*.jsa")
    with open(jsa, "r+b") as f:
        f.truncate(5 * 2**20)

    second = start(2)
    assert "-XX:+RecordDynamicDumpInfo" in second["args"]
    assert jsa.stat().st_size > 5 * 2**20
    assert not list(root.glob("*.tmp"))
    third = start(3)
    assert f"-XX:SharedArchiveFile={jsa}" in third["args"]
