"""Session set-up: warm-up is best-effort, but a failure is logged with
its traceback on the package logger, never swallowed; the package zip
shipped to executors is written once per process, into a directory of
that process's own."""

import functools
import logging
import os
import subprocess
import sys
from types import SimpleNamespace

from lucene_solr_old_spark.session import warm_session


def test_warmup_failure_is_logged(spark, monkeypatch, caplog):
    def broken_range(*args, **kwargs):
        raise RuntimeError("warm-up broke")

    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "1")
    monkeypatch.setattr(spark, "_lsos_warmed", False, raising=False)
    monkeypatch.setattr(spark, "range", broken_range)
    with caplog.at_level(logging.WARNING, logger="lucene_solr_old_spark"):
        warm_session(spark)
    [rec] = [r for r in caplog.records
             if r.name.startswith("lucene_solr_old_spark")]
    assert rec.levelno == logging.WARNING
    assert "warm-up" in rec.getMessage()
    assert rec.exc_info and "warm-up broke" in str(rec.exc_info[1])


def test_ship_package_zips_once_per_process(monkeypatch):
    """Two ships, one zip.  A stand-in session and a fresh cache keep the
    shared test session's shipped zip as it is: Spark refuses a second
    file of the same name whose contents differ."""
    from lucene_solr_old_spark import session

    calls, added = [], []
    real = session.package_zip

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(session, "package_zip", counted)
    monkeypatch.setattr(session, "_shipped_zip",
                        functools.cache(session._shipped_zip.__wrapped__))
    fake = SimpleNamespace(sparkContext=SimpleNamespace(
        addPyFile=added.append))
    session.ship_package(fake)
    session.ship_package(fake)
    assert len(calls) == 1
    assert len(added) == 2 and added[0] == added[1]


# writes the process's package zip, imports the package from it alone in
# a child interpreter, and prints the zip's path
_SHIP = """
import subprocess, sys
from lucene_solr_old_spark.session import _shipped_zip
z = _shipped_zip()
subprocess.run([sys.executable, "-c", "import sys; sys.path.insert(0, "
                "sys.argv[1]); import lucene_solr_old_spark.functions as f; "
                "assert f.__file__.startswith(sys.argv[1])", z], check=True)
print(z)
"""


def test_shipped_zip_is_private_to_its_process():
    """Two processes ship different zip files, so neither can rewrite the
    file the other's session shipped; each zip imports the package, and
    each is removed when its process exits."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [subprocess.Popen([sys.executable, "-c", _SHIP], cwd=root,
                              stdout=subprocess.PIPE, text=True)
             for _ in range(2)]
    paths = []
    for p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        paths.append(out.strip())
    assert paths[0] != paths[1]
    assert all(p.endswith("lucene_solr_old_spark.zip") for p in paths)
    assert not any(os.path.exists(p) for p in paths)
