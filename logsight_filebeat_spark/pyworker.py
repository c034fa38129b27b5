"""Python-worker daemon for the package's Spark sessions (``get_spark`` sets
``spark.python.daemon.module`` to this module).

It is pyspark's own daemon with one change, made before any worker forks so
that every worker inherits it: a zip archive on ``sys.path`` has its
directory re-read only when the file has changed.

At the start of every task, pyspark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``), so
that zips added with ``addPyFile`` become importable. On Python 3.11 that
re-reads the whole directory of every zip archive once per
``zipimporter``, and importing pyspark from ``pyspark.zip`` creates one
importer per subpackage it loads (a dozen or more), so a task read the
same archive's directory that many times: 60-80 ms per task with the 12
importers of ``pyspark.worker`` and ``pyspark.sql`` alone, most of a
worker's time on small Arrow batches. Here an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the last read of that archive, and otherwise takes the directory that read
produced. A zip that is added or
rewritten between tasks is still seen by the next task.

Run as ``python -m logsight_filebeat_spark.pyworker pyspark.worker``, as the
JVM starts any daemon module.
"""

from __future__ import annotations

import os
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_mtime_ns, st_size) before the read, directory read)
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_directory(self)  # missing archive: the stock behaviour
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    # stamped before the read: a change during the read re-reads next time
    _read_directory(self)
    _directories[self.archive] = (stamp, self._files)


zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import importlib

    # read each archive once here, so forked workers start with its stamp
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
