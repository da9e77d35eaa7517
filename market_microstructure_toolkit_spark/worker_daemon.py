"""``pyspark.daemon`` whose workers re-read a zip archive only when it changed.

A Python worker calls ``importlib.invalidate_caches()`` for every task, and
on CPython 3.11 each cached ``zipimporter`` (one per imported pyspark
subpackage) then re-reads all of ``pyspark.zip``: 130-210 ms per task.
Workers fork from this daemon (``spark.python.daemon.module``), so they
inherit the stat check below.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_ino, st_size, st_mtime_ns) at its last re-read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the daemon's archives before forking
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run through the package name so the patch's __module__ names this module
    from market_microstructure_toolkit_spark.worker_daemon import main as _main

    _main()
