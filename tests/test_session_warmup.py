"""Session warm-up is best-effort, but a failure is logged with its
traceback on the package logger, never swallowed."""

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
