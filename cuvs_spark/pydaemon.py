"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

Every Python task starts with PySpark's ``setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On Python 3.11 that makes each
``zipimporter`` re-read its whole archive directory. A worker holds one
importer per archive and per imported sub-package, so the read covers
Spark's ``pyspark.zip`` (about 14 times), the py4j zip and the
spark-core jar that Spark puts on every worker's path: 0.13-0.28 s per
task on a 4-vCPU host, spent before the task's function is entered.

This daemon seals the archives already on ``sys.path`` when it starts:
their importers keep the directory they read once. Those archives ship
with Spark and do not change while a worker lives. Archives that arrive
later (``addPyFile``, ``--py-files``) keep the stock importer and its
reload. Then it runs ``pyspark.daemon.manager()`` unchanged; workers
are forked from it and inherit the sealed importers.

Spark starts the daemon as ``python -m cuvs_spark.pydaemon``, so the
package must be importable on executors; ``session.get_spark`` puts its
directory on the executors' ``PYTHONPATH``. Importing the package loads
``pyspark.sql`` and NumPy into the daemon before it forks; with the
engine's default of one BLAS thread per task that starts no thread.
"""

from __future__ import annotations

import os
import sys
import zipimport


class SealedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that keeps the archive directory it read once."""

    def invalidate_caches(self):
        pass


def seal_archives() -> None:
    """Serve the archives now on ``sys.path`` with ``SealedZipImporter``.

    Swaps ``zipimporter`` in ``sys.path_hooks`` for a hook that picks the
    sealed class for paths inside those archives and the stock class for
    any other archive, and drops the importers already cached for them."""
    sealed = frozenset(p for p in sys.path if os.path.isfile(p))

    def path_hook(path):
        if any(path == a or path.startswith(a + os.sep) for a in sealed):
            return SealedZipImporter(path)
        return zipimport.zipimporter(path)

    sys.path_hooks[:] = [path_hook if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for key, importer in list(sys.path_importer_cache.items()):
        if type(importer) is zipimport.zipimporter and importer.archive in sealed:
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    seal_archives()
    from pyspark.daemon import manager
    manager()
