"""Python worker setup paid once per worker, not once per task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimporter`` re-read its archive's whole central directory
in pure Python: ``pyspark.zip`` once per imported subpackage, the py4j
zip and the spark-core jar, 0.1-0.3 s of CPU per task on a 4-CPU box.
CPython 3.13 invalidates lazily instead. Inside a worker, ``install``
swaps in a method that re-reads an archive only when its stat differs
from the one taken before this process last read it, so a pyFile
replaced in place is still re-read. The stat includes ``st_ctime_ns``,
which no copy tool can set, so a rewrite that keeps size and mtime is
re-read too. The driver keeps the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_ctime_ns, st_size) stat'ed just
# before this process's last successful read of its directory
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stamps.pop(self.archive, None)
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_ctime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        # share the last read: another importer of this archive (another
        # prefix) may have re-read it since this one's _files was set
        self._files = files
        return
    _stdlib_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:
        _read_stamps[self.archive] = stamp
    else:
        _read_stamps.pop(self.archive, None)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def _in_spark_task() -> bool:
    # the worker sets the task context before it unpickles the command
    # that imports this package; pyspark.taskcontext is not imported here
    # so that the driver does not load it
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


if sys.version_info < (3, 13) and _in_spark_task():
    install()
