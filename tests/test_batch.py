"""batch_search == per-query search results, in one job."""

import pytest

from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(gen_pages(250, seed=3), schema=PAGES_SCHEMA)
    return build_index(df, num_segments=4).persist()


QUERIES = [
    (0, "running meetings", "OR"),
    (1, "caresses ponies", "AND"),
    (2, "relational", "OR"),
    (3, "zzznothing", "OR"),
    (4, "the hopeful of running", "OR"),   # stopwords dropped
    (5, "running running meetings", "OR"),  # duplicate terms
]


def test_batch_matches_individual(idx):
    batch = batch_search(idx, QUERIES, k=10)
    by_qid = {}
    for r in batch.collect():
        by_qid.setdefault(r["qid"], []).append(
            (r["rank"], r["key"], round(float(r["score"]), 5)))
    for qid, text, mode in QUERIES:
        single = S.search_terms(idx, text, mode=mode, k=10)
        exp = [(i + 1, r["key"], round(float(r["score"]), 5))
               for i, r in enumerate(single.collect())]
        got = sorted(by_qid.get(qid, []))
        assert got == exp, (qid, text, got, exp)


def test_batch_qids_beyond_int(idx):
    """A qid past the INT range keeps its value: the fan-out and the
    per-query literals type it BIGINT, as a SQL integer literal would."""
    big = 2**31 + 5
    texts = [("running meetings", "OR"), ("caresses ponies", "AND")]

    def rows(qids):
        out = batch_search(idx, [(q, t, m) for q, (t, m) in zip(qids, texts)],
                           k=5).collect()
        return {(r["qid"], r["rank"], r["key"], r["score"]) for r in out}

    small = rows([0, 1])
    assert small and rows([big, 1]) == {
        (big if q == 0 else q, *rest) for q, *rest in small}


# qid 7 matches nearly every page, far more than k; qid 3 matches none
SKEWED = [(7, "aad", "OR"), (3, "zzznothing", "OR"),
          (0, "running meetings", "OR"), (1, "caresses ponies", "AND")]


def test_batch_collector_contract(idx, per_qid_runs):
    """Rows come contiguous and rank-ordered per qid, at most k each; the
    qids themselves need not be sorted."""
    runs = per_qid_runs(batch_search(idx, SKEWED, k=5).collect(), 5)
    assert runs[7] == 5 and 3 not in runs and set(runs) <= {7, 0, 1}


def test_batch_jobs_per_collect(fingerprint_indexes, jobs_per_call):
    """With statistics, dictionary and keys resident, the workload runs in
    at most 2 Spark jobs from call to rows: the qid shuffle that the
    (qid, seg, docid) aggregate and the per-(qid, seg) window share, and
    the result; the driver merges each qid's segments with the resident
    keys, where a docmeta broadcast was a third job.  A global
    ``orderBy("qid", "rank")`` would add a range-sampling job and a range
    exchange."""
    from test_plan_fingerprints import BATCH

    _df, plain, _comp, _mfi = fingerprint_indexes
    plain.collection_stats()
    plain.read_resident()
    assert jobs_per_call(lambda: batch_search(plain, BATCH, k=10)) <= 2


def test_batch_empty_queries(idx):
    out = batch_search(idx, [(0, "", "OR")], k=5)
    assert out.count() == 0


def test_percolate_match_sets(spark):
    """Percolator (MemoryIndex use-case): stored queries vs incoming docs
    in one broadcast-join job."""
    from lucene_solr_old_spark.operators.percolate import percolate

    docs = spark.createDataFrame(
        [("d1", "spark join merge"), ("d2", "spark only here"),
         ("d3", "join table"), ("d4", "nothing relevant")],
        "url STRING, text STRING")
    out = percolate(docs, [(0, "spark join", "OR"),
                           (1, "spark join", "AND"),
                           (2, "table", "OR")],
                    analyzer="ws_stop")
    got = {(r["key"], r["qid"]) for r in out.collect()}
    assert got == {("d1", 0), ("d2", 0), ("d3", 0),
                   ("d1", 1),
                   ("d3", 2)}
