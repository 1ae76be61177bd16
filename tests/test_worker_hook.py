"""The Python-worker import-cache hook (package ``__init__``): pyspark's
worker calls ``importlib.invalidate_caches()`` before every task, and the
hook drops the ``zipimporter`` entries of ``sys.path_importer_cache``
first, so no task re-reads the directories of pyspark.zip and the jars."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

import lucene_solr_old_spark
from lucene_solr_old_spark import _ZipImporterPruner


def _zipimporters() -> int:
    return sum(isinstance(f, zipimport.zipimporter)
               for f in sys.path_importer_cache.values())


def test_pruned_zip_module_still_imports(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/mod.py", "X = 42\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(sys, "meta_path",
                        [_ZipImporterPruner(), *sys.meta_path])
    try:
        importlib.import_module("zpkg")
        assert _zipimporters() > 0
        importlib.invalidate_caches()
        assert _zipimporters() == 0
        mod = importlib.import_module("zpkg.mod")
        assert mod.X == 42 and mod.__file__.startswith(str(archive))
    finally:
        for name in ("zpkg", "zpkg.mod"):
            sys.modules.pop(name, None)


def test_hook_absent_on_driver(spark):
    assert lucene_solr_old_spark.__name__ in sys.modules
    assert not any(isinstance(f, _ZipImporterPruner) for f in sys.meta_path)


def test_reused_worker_task_starts_without_zipimporters(spark):
    """Every task that runs in a worker which already imported the package
    finds no zipimporter cached when its UDF starts: the hook dropped them
    when the task's invalidation ran.  Sixteen one-row tasks over a
    four-slot session reuse workers within the one job."""
    def probe(batches):
        import os
        import sys
        import zipimport

        had = "lucene_solr_old_spark" in sys.modules
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        import lucene_solr_old_spark  # noqa: F401 (installs the hook)
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "had": [had],
                            "zips": [zips]})

    rows = (spark.range(0, 16, 1, 16)
            .mapInPandas(probe, "pid LONG, had BOOLEAN, zips LONG")
            .collect())
    reused = [r for r in rows if r["had"]]
    assert reused, rows
    assert all(r["zips"] == 0 for r in reused), rows
