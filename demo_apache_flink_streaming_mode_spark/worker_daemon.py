"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``). On CPython < 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
central directory: one importer per pyspark subpackage loaded from
``pyspark.zip`` (1,328 entries), about 8 ms of CPU each, so around 0.1 s per
task. CPython 3.13 made the re-read lazy. Here an importer re-reads its
archive only when the archive's (mtime, size, inode) stamp differs from the
one it last read; then the stock pyspark daemon runs. Workers fork from this
process, so they inherit the patch and the stamps taken at start-up.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None  # gone or unreadable: always re-read (and fail as stock)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    if sys.version_info >= (3, 13) or hasattr(
            zipimport.zipimporter.invalidate_caches, "stat_checked"):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    import importlib

    import pyspark.daemon

    importlib.invalidate_caches()  # stamp the importers the workers inherit
    pyspark.daemon.manager()
