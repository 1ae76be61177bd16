import os
import sys
import threading
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_old_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fingerprint_indexes(spark):
    """(pages, plain, compressed, multi-field) indexes of the plan
    fingerprint test, built once per session."""
    from test_plan_fingerprints import build

    return build(spark)


def _jobs_in_group(sc, fn) -> int:
    """Run ``fn()`` under a job group of its own; returns the number of
    Spark jobs it ran."""
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs per call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def jobs_per_call(spark):
    """Call ``make()`` and collect the DataFrame it returns, if it returns
    one, under one job group; returns the number of Spark jobs from the
    call through the collect (term-stats seeks included)."""
    from pyspark.sql import DataFrame

    def run(make):
        out = make()
        if isinstance(out, DataFrame):
            out.collect()

    return lambda make: _jobs_in_group(spark.sparkContext,
                                       lambda: run(make))


@pytest.fixture
def py4j_calls_per_call(spark):
    """Call ``make()``; returns the number of py4j round trips the calling
    thread made to the JVM (a DataFrame's build, not its collect).  The
    py4j finalizer thread's object releases are not counted."""
    client = spark.sparkContext._gateway._gateway_client

    def count(make) -> int:
        caller, calls = threading.get_ident(), [0]
        send = client.send_command

        def counting(*args, **kwargs):
            if threading.get_ident() == caller:
                calls[0] += 1
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            make()
        finally:
            del client.send_command
        return calls[0]

    return count


@pytest.fixture
def per_qid_runs():
    """Check the workload collector's ordering contract on collected
    (qid, rank, key, score) rows: each qid's rows are one contiguous run
    with ranks 1..n in order and n <= k.  Returns {qid: n}."""
    def check(rows, k: int) -> dict:
        runs: dict = {}
        last = None
        for r in rows:
            if r["qid"] != last:
                assert r["qid"] not in runs, f"qid {r['qid']} split"
                last = r["qid"]
                runs[last] = 0
            runs[last] += 1
            assert r["rank"] == runs[last], (r["qid"], r["rank"])
        assert all(n <= k for n in runs.values()), runs
        return runs

    return check
