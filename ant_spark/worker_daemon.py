"""Python worker daemon for sessions built by ``get_spark``.

Spark starts it as ``python -m ant_spark.worker_daemon <worker module>``
(``spark.python.daemon.module`` in ``session.ENGINE_CONF``). It runs the
stock ``pyspark.daemon`` after one change to how the forked workers import.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, so that zips added with ``addPyFile`` mid-session become
importable. On CPython < 3.13, ``zipimporter.invalidate_caches`` re-reads
the whole central directory of every archive on the worker path
(``pyspark.zip``, the py4j zip, the spark-core jar: ~6,700 entries), about
0.23 s of worker CPU per task before it touches a row (4-vCPU VM, CPython
3.11). CPython 3.13 only drops the cached directory. Here an archive is
read again only when its ``(st_mtime_ns, st_size)`` changed since this
importer last read it; a changed or new archive is read as before.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimporter() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Each importer remembers the stamp of its archive at its last read. The
    stamp is taken before the read, so an archive rewritten during the read
    carries a newer stamp and is read again on the next call."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_read_stamp", None):
            return
        reread(self)
        self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    from pyspark import daemon

    if sys.version_info < (3, 13):
        patch_zipimporter()
        # stamp the archives once here, so forked workers inherit the
        # stamps and their first task skips the read too
        importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
