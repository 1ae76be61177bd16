"""lucene_solr_old_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression (NOT a port) of the query and data-processing
capabilities of the reference Lucene/Solr snapshot at /root/reference,
built Spark-first: DataFrame/SQL plans, Arrow-vectorized pandas UDFs for
the text kernels, parquet/Iceberg-style segment-per-partition storage.
See SURVEY.md for the full operator inventory and design rationale.
"""

import sys
import zipimport

__version__ = "0.1.0"


class _ZipImporterPruner:
    """A ``sys.meta_path`` entry that finds nothing and, on
    ``importlib.invalidate_caches()``, drops every ``zipimporter`` from
    ``sys.path_importer_cache`` before ``PathFinder`` reaches them.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``worker_util.setup_spark_files``).  On Python 3.11 and 3.12
    each cached ``zipimporter`` then re-reads its archive's whole
    directory.  A query-time worker holds 17 of them (12 over
    ``pyspark.zip`` subpackages, 2 each over the py4j zip and the
    spark-core jar, 1 over this package's zip), and re-reading them took
    195 ms of every task; a bare one-partition ``mapInPandas`` call fell
    from 240-290 ms to 60-75 ms without it (4-core host, Python 3.11.7).
    Python 3.13 drops the directory lazily instead: with 12 importers over
    ``pyspark.zip``, five invalidations take 0.1 ms there, against 650 ms
    on 3.11.7 and 720 ms on 3.12.1.

    Deleting entries from that cache is allowed: a later import re-creates
    the importer from zipimport's own directory cache without reading the
    archive, and the archives do not change while a worker runs."""

    @staticmethod
    def find_spec(fullname, path=None, target=None):
        return None

    @staticmethod
    def invalidate_caches():
        cache = sys.path_importer_cache
        for entry in [p for p, f in cache.items()
                      if isinstance(f, zipimport.zipimporter)]:
            del cache[entry]


def _in_python_worker() -> bool:
    """True inside a task of a pyspark Python worker (the worker imports
    ``pyspark.taskcontext`` and sets the task context before it unpickles
    a UDF); the driver has no task context."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


# before PathFinder, so its invalidate_caches runs first; installed once
# per worker process, never on the driver
if _in_python_worker() and not any(
        isinstance(f, _ZipImporterPruner) for f in sys.meta_path):
    sys.meta_path.insert(0, _ZipImporterPruner())
