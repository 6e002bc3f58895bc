"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Every task runs ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``). Workers import pyspark from
``pyspark.zip``, and on CPython < 3.13 ``zipimporter.invalidate_caches``
re-reads the archive's whole directory at once, for each of the ~16
zipimporters a worker holds: about 230 ms of CPU per task that does no work.
Here an archive is re-read only when its (mtime, size, inode) changed since
its last read, which is what 3.13's lazy ``invalidate_caches`` gives for an
unchanged archive.

The daemon also imports pandas and pyarrow before the stock
``pyspark.daemon`` manager forks the workers, so each worker inherits them.
Otherwise each worker imports ~300 pandas modules in its first task: in a
cold ``llm_pipeline`` pass on a 4-core host a worker's first job cost
0.38-0.58 s of CPU, and 0.13-0.18 s with the imports inherited (NOTES.md
"One-time costs inside the first pass").
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads a changed archive only."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    # one read per archive here, so forked workers start with every stamp
    importlib.invalidate_caches()
    # once here instead of once per worker: the workers are forked from here
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    manager()
