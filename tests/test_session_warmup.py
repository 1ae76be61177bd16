"""Session set-up: warm-up is best-effort, but a failure is logged with
its traceback on the package logger, never swallowed; the package zip
shipped to executors is written once per process."""

import logging

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


def test_ship_package_zips_once_per_process(spark, monkeypatch):
    from lucene_solr_old_spark import session

    calls = []
    real = session.package_zip

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(session, "package_zip", counted)
    session._shipped_zip.cache_clear()
    try:
        session.ship_package(spark)
        session.ship_package(spark)
    finally:
        session._shipped_zip.cache_clear()
    assert len(calls) == 1
