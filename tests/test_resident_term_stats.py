"""Resident term statistics: the first ``InvertedIndex.term_stats`` call
reads the postings rows' (term, df, ttf) columns once and every later seek
is answered on the driver (the reference's RAM-resident terms index,
``codecs/BlockTreeTermsReader.java``); a dictionary over the row budget is
seeked term-pruned per call instead."""

import logging

import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators import indexer as I
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.wand import wand_search


@pytest.fixture(scope="module")
def saved(fingerprint_indexes, tmp_path_factory):
    """Paths of the fingerprint pages' plain and compressed indexes."""
    _df, plain, comp, _mfi = fingerprint_indexes
    root = tmp_path_factory.mktemp("resident")
    paths = str(root / "plain"), str(root / "comp")
    plain.save(paths[0])
    comp.save(paths[1])
    return paths


@pytest.fixture(scope="module")
def oracle(saved, spark):
    """{term: (df, ttf)}: the postings rows summed by Spark."""
    rows = (I.load_index(spark, saved[0]).postings.groupBy("term")
            .agg(F.sum("df"), F.sum("ttf")).collect())
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}


def _probe(oracle):
    return sorted(oracle)[::7] + ["zzznosuchterm"]


def test_first_seek_reads_dictionary_once(saved, spark, oracle,
                                          jobs_per_call):
    plain = I.load_index(spark, saved[0])
    terms = _probe(oracle)
    got = {}
    assert jobs_per_call(lambda: got.update(plain.term_stats(terms))) == 1
    assert got == {t: oracle.get(t, (0, 0)) for t in terms}
    assert jobs_per_call(lambda: plain.term_stats(sorted(oracle))) == 0
    # the compressed index carries the source's resident dictionary
    comp = I.compress_index(plain)
    assert jobs_per_call(lambda: got.update(comp.term_stats(terms))) == 0
    assert got == {t: oracle.get(t, (0, 0)) for t in terms}


ENTRY_POINTS = {
    "search_or": lambda p, c: S.search_or(p, "running meetings caresses"),
    "search_and": lambda p, c: S.search_and(p, "caresses ponies"),
    "search_dismax": lambda p, c: S.search_dismax(p, "relational hopeful",
                                                  tie_breaker=0.1),
    "search_phrase": lambda p, c: S.search_phrase(p, "aad aaeevnqlbaa"),
    "wand_search": lambda p, c: wand_search(c, "running meetings"),
    "batch_search": lambda p, c: batch_search(
        p, [(0, "meetings ponies", "OR"), (1, "running caresses", "AND")]),
}


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_query_runs_no_seek_job(name, saved, spark, jobs_per_call,
                                monkeypatch):
    """With the dictionary and keys resident, a query's call runs exactly
    its collector statement's jobs: it seeks no term statistics and reads
    no key."""
    plain, comp = (I.load_index(spark, p) for p in saved)
    for idx in (plain, comp):  # read the statistics, dictionary and keys
        idx.collection_stats()
        idx.read_resident()
    tracker, collect, in_statements = (spark.sparkContext.statusTracker(),
                                       S._collect, [])

    def counting(statement):
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        before = set(tracker.getJobIdsForGroup(group))
        rows = collect(statement)
        in_statements.append(
            len(set(tracker.getJobIdsForGroup(group)) - before))
        return rows

    monkeypatch.setattr(S, "_collect", counting)
    n_call = jobs_per_call(lambda: ENTRY_POINTS[name](plain, comp))
    assert len(in_statements) == 1
    assert n_call == in_statements[0] and n_call > 0


def test_over_budget_seeks_equal_resident(saved, spark, oracle, monkeypatch,
                                          caplog, jobs_per_call):
    terms = _probe(oracle)
    resident = I.load_index(spark, saved[0]).term_stats(terms)
    monkeypatch.setattr(I, "_RESIDENT_TERM_ROWS", 10)
    over = I.load_index(spark, saved[0])
    with caplog.at_level(logging.INFO, logger=I.__name__):
        assert over.term_stats(terms) == resident
        assert jobs_per_call(lambda: over.term_stats(terms[:3])) == 1
    assert resident == {t: oracle.get(t, (0, 0)) for t in terms}
    assert resident["zzznosuchterm"] == (0, 0)
    assert over._term_arrays == ()
    logged = [r for r in caplog.records if "over 10 rows" in r.getMessage()]
    assert len(logged) == 1
