"""The package's Python worker daemon and the session confs around it.

``worker_daemon.invalidate_caches`` must re-read a zip archive only when
the file changed; the session's workers must run under that daemon; and
gates whose callbacks pickle package functions by reference must run
from a working directory that does not hold the repo, with no
``PYTHONPATH``.
"""

import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from market_microstructure_toolkit_spark import worker_daemon

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, names: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "x = 1\n")


def test_unchanged_archive_is_read_once(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["a.py"])
    importer = zipimport.zipimporter(str(archive))
    reads = []
    reread = worker_daemon._reread

    def spy(self):
        reads.append(self.archive)
        reread(self)

    monkeypatch.setattr(worker_daemon, "_reread", spy)
    monkeypatch.setattr(worker_daemon, "_stamps", {})

    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert reads == [str(archive)]
    # a second importer over the same archive shares the stamp
    worker_daemon.invalidate_caches(zipimport.zipimporter(str(archive)))
    assert len(reads) == 1

    _write_zip(archive, ["a.py", "b.py"])  # new size
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("b") is not None

    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime only
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 3
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 3


def test_session_workers_run_under_the_daemon(spark):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def patched_by(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = {r[0] for r in spark.range(10).select(patched_by("id")).collect()}
    assert got == {spark.conf.get("spark.python.daemon.module")}
    assert got == {worker_daemon.__name__}


_FOREIGN_CWD_GATES = (
    "multimodal_features",
    "streaming_cdc_replay",
    "streaming_dedup_replay",
)

_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from market_microstructure_toolkit_spark.plans.queries import REGISTRY
from market_microstructure_toolkit_spark.session import get_spark

spark = get_spark("mmt-foreign-cwd")
for name in sys.argv[3:]:
    rows = REGISTRY[name].spark(spark, sys.argv[2]).collect()
    print(name, len(rows))
spark.stop()
"""


def test_python_worker_gates_run_from_a_foreign_cwd(sf_dir, tmp_path):
    """Workers find the package through the session's executor
    PYTHONPATH, not through the caller's cwd or environment."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_SCRATCH_DIR"] = str(tmp_path / "scratch")
    os.makedirs(env["SPARK_GRAFT_SCRATCH_DIR"])
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            _FOREIGN_CWD_SCRIPT,
            str(REPO),
            sf_dir,
            *_FOREIGN_CWD_GATES,
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    ran = [line.split()[0] for line in r.stdout.splitlines() if line.strip()]
    assert ran == list(_FOREIGN_CWD_GATES)
