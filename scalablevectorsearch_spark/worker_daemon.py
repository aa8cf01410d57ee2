"""PySpark worker daemon that skips unchanged zip-archive re-reads.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` become importable. On Python < 3.12 that call makes every
cached ``zipimporter`` re-read its whole archive directory at once
(CPython gh-103200 made the re-read lazy in 3.12): the importers over
``pyspark.zip``, the py4j zip and the spark-core jar hold ~26.7k entries,
and re-reading them costs 160-480 ms of a trivial warm ``mapInPandas``
task on a 4-core host, against 5-15 ms of kernel time.

:func:`invalidate_caches` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before the
importer's last read. A first call, or a changed or missing archive,
takes the original path, so ``addPyFile`` and a replaced zip behave as
before.

Run as ``python -m scalablevectorsearch_spark.worker_daemon`` (Spark's
``spark.python.daemon.module``, set by :func:`session.get_spark`): it
installs the replacement on Python < 3.12 and then runs
``pyspark.daemon.manager()``, whose forked workers inherit the patch.
Importing this module patches nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _original_invalidate(self)
        self._stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    # the importable module, so the installed function is attributed to
    # it rather than to __main__
    from scalablevectorsearch_spark import worker_daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    manager()
