"""Keep a Python worker's zip-import directories across Spark tasks.

At the start of every task, PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). On CPython 3.11 and 3.12 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` (one per path
inside an archive that an import looked at) re-read its archive's whole
central directory. The worker imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries, 3.5 MB; one
re-read took 8.2 ms on a 4-core box), and Spark also puts py4j's zip
and the spark-core jar (5,359 entries, 37 ms a re-read) on its path. A
probe task counted 16 re-reads (pyspark.zip 12, py4j 2, the jar 2), and
a cProfile of ``delta_stream`` workers 18 a task: ~0.15-0.2 s of CPU
before the UDF runs, while the JVM task thread waits on the worker's
socket. CPython 3.13 made this lazy: its ``invalidate_caches`` only
pops ``_zip_directory_cache``.

Here, on CPython < 3.13, ``invalidate_caches`` re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last re-read in
this process; otherwise it reuses ``zipimport._zip_directory_cache``. An
archive it cannot stat, or whose directory is not cached, gets the
stock re-read. The package ``__init__`` imports this module, and a
worker imports the package when it unpickles any engine UDF, so a
reused worker stops paying from its second task on, in any session.
Delete this module once the interpreter floor is Python 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _stock = zipimport.zipimporter.invalidate_caches
    # archive path -> (st_mtime_ns, st_size) when this process last read it
    _read_stamp: dict[str, tuple[int, int]] = {}

    def _invalidate_caches(self: zipimport.zipimporter) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            _stock(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_stamp.get(self.archive) == stamp:
            self._files = files
            return
        # stamped before the read: a rewrite racing it is re-read next time
        _stock(self)
        _read_stamp[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
