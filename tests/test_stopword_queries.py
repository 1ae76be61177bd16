"""A query that analyses to no term (all stopwords) matches nothing: every
BM25/WAND entry point returns an empty top-k with its documented columns."""

import pytest

from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators import wand as W
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.indexer import build_index, compress_index
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages

Q = "the of and"
TOPK = ["key", "score"]
BATCH = ["qid", "rank", "key", "score"]


@pytest.fixture(scope="module")
def indexes(spark):
    df = spark.createDataFrame(gen_pages(60, seed=2), schema=PAGES_SCHEMA)
    plain = build_index(df, num_segments=2).persist()
    return plain, compress_index(plain).persist()


RUNS = {
    "search_or": (lambda p, c: S.search_or(p, Q), TOPK),
    "search_and": (lambda p, c: S.search_and(p, Q), TOPK),
    "search_dismax": (lambda p, c: S.search_dismax(p, Q, tie_breaker=0.1),
                      TOPK),
    "search_after": (lambda p, c: S.search_after(p, Q, 10, 1.0, "a"), TOPK),
    "count_query": (lambda p, c: S.count_query(p, Q), None),
    "wand_search": (lambda p, c: W.wand_search(c, Q), TOPK),
    "batch_search": (lambda p, c: batch_search(p, [(0, Q, "OR"),
                                                   (1, Q, "AND")]), BATCH),
    "batch_wand_search": (lambda p, c: W.batch_wand_search(
        c, [(0, Q, "OR"), (1, Q, "AND")]), BATCH),
}


@pytest.mark.parametrize("name", list(RUNS))
def test_all_stopword_query_is_empty(indexes, name):
    run, columns = RUNS[name]
    out = run(*indexes)
    if columns is None:
        assert out == 0
    else:
        assert out.columns == columns
        assert out.collect() == []
