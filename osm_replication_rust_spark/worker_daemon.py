"""PySpark's Python worker daemon, with lazy zip-directory invalidation.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before
CPython 3.13 that makes every ``zipimporter`` re-read its archive's
central directory at once: in a worker that imported pyspark from
``pyspark.zip`` that is 16 importers re-reading ~1,300 entries, about
0.3 CPU-s per task even when the task has no rows. 3.13 made the
invalidation lazy; this module backports that for older interpreters:
an importer re-reads its archive only once the file's
(mtime_ns, size, inode) differ from when it last read it.

``session.get_spark`` names this module as ``spark.python.daemon.module``;
the patch is installed in the daemon before it forks any worker.
"""

import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read ``self.archive``'s directory only if the file changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _eager_invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
