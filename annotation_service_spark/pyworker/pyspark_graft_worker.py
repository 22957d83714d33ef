"""PySpark Python worker entry: ``pyspark.worker.main`` without the
per-task zip directory re-reads.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11
that makes every cached ``zipimporter`` re-read its archive's whole
directory: about 16 on a worker's path (``pyspark.zip`` and its
subpackages, the spark-core jar), 150-180 ms per task on 4 cores
before the task's own code runs (docs/SCALE.md, "Python tasks per
request").

Here ``zipimporter.invalidate_caches`` re-reads an archive only when
its ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken when
it was last read, so a rewritten zip is still re-read and import
semantics are kept. A zip added later (``addPyFile``) is a new path
entry and gets a new importer. Archives already read when the daemon
imports this module are keyed now.

The session selects this module with ``spark.python.worker.module`` and
puts this directory, which holds nothing else, on the workers'
``PYTHONPATH`` (``session.get_session``). The name starts with
``pyspark`` because the daemon imports no other worker module.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat key of the file when its directory was last read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive``'s directory only if the file changed."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _reread(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key
    else:
        _read_at.pop(self.archive, None)


for _archive in list(zipimport._zip_directory_cache):
    _key = _stat_key(_archive)
    if _key is not None:
        _read_at[_archive] = _key

zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    # spark.python.use.daemon=false runs this module as a script, one
    # process per worker: run the stock worker's script body (importing
    # pyspark.worker first would make runpy warn)
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon calls worker_module.main)
