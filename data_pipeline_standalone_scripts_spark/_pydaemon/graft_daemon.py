"""PySpark daemon whose reused workers re-read a zip's directory only
when the archive changed.

Spark starts this module in place of ``pyspark.daemon`` when a session
sets ``spark.python.daemon.module=graft_daemon`` and puts this file's
directory on ``spark.executorEnv.PYTHONPATH`` (``session.get_spark``
does both). It installs :func:`read_directory` and
:func:`invalidate_caches` in ``zipimport`` and then runs the stock
daemon; the workers it forks inherit them.

Why: before every task, PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
every ``zipimporter`` (one per package prefix: 16 in a worker) re-read
the whole central directory of its archive, ``pyspark.zip`` with 1,328
entries or py4j's zip, which put a ~0.2 s floor under every Python task.
CPython 3.13 only drops the cache there. The guard keeps the contract
of both: an archive whose ``(st_ino, st_size, st_mtime_ns)`` changed
since its directory was last read is read again.

This file sits alone in its directory and imports nothing from the
engine, so putting the directory on the workers' path cannot hand them
a checkout's copy of the engine instead of the zip
``session._ship_package`` ships.
"""

import os
import zipimport

_read_directory = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> its stat stamp when its directory was last read
_stamps: dict = {}


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def read_directory(archive):
    """``zipimport._read_directory`` that records the archive's stamp."""
    # stamp first: a change during the read is caught on the next check
    _stamps[archive] = _stamp(archive)
    return _read_directory(archive)


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is None or stamp is None or _stamps.get(self.archive) != stamp:
        _reread(self)
    else:
        # CPython 3.11 reads an importer's own _files; 3.13 reads the
        # cache entry, so there the assignment is inert
        self._files = files


if __name__ == "__main__":
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
