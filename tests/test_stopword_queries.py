"""A query that analyses to no term (all stopwords) matches nothing: every
BM25/WAND entry point returns an empty top-k with its documented columns,
and every other scorer's empty top-k has the schema of a matching query at
either precision."""

import pytest

from pyspark.sql import functions as F

from lucene_solr_old_spark.operators import multifield as MF
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators import tfidf as T
from lucene_solr_old_spark.operators import wand as W
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.blockjoin import join_util_search
from lucene_solr_old_spark.operators.indexer import build_index, compress_index
from lucene_solr_old_spark.operators.mlt import more_like_this
from lucene_solr_old_spark.operators.spans import common_terms_query
from lucene_solr_old_spark.plans.query import complex_phrase_search, execute
from lucene_solr_old_spark.plans.xml import xml_search
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


@pytest.fixture(scope="module")
def fields(spark):
    df = spark.createDataFrame(gen_pages(60, seed=2), schema=PAGES_SCHEMA)
    return MF.build_multifield_index(df, "url", {"body": "text"}, "body",
                                     num_segments=2)


def _xml(text):
    return f'<TermsQuery fieldName="contents">{text}</TermsQuery>'


def _join_util(index, text, precision):
    groups = index.docmeta.select("key", (F.col("docid") % 3).alias("g"))
    return join_util_search(index, text, groups, "g", groups, "g",
                            precision=precision)


def _complex_phrase(index, text, precision):
    # a one-word phrase, or a wildcard slot no dictionary term matches
    return complex_phrase_search(
        index, "zzzq*" if text == Q else text.split()[0],
        precision=precision)


# name -> run(plain index, multi-field index, query text, precision)
SCORERS = {
    "search_tfidf": lambda i, m, q, p: T.search_tfidf(i, q, precision=p),
    "search_tfidf_and": lambda i, m, q, p: T.search_tfidf(
        i, q, mode="AND", precision=p),
    "search_lmdirichlet": lambda i, m, q, p: T.search_lmdirichlet(
        i, q, precision=p),
    "search_dfr_gl2": lambda i, m, q, p: T.search_dfr_gl2(i, q, precision=p),
    "search_ib_spl": lambda i, m, q, p: T.search_ib_spl(i, q, precision=p),
    "search_sweetspot": lambda i, m, q, p: T.search_sweetspot(
        i, q, precision=p),
    "execute": lambda i, m, q, p: execute(i, q, precision=p),
    "xml_search": lambda i, m, q, p: xml_search(i, _xml(q), precision=p),
    "search_fielded": lambda i, m, q, p: MF.search_fielded(m, q, precision=p),
    "search_edismax": lambda i, m, q, p: MF.search_edismax(
        m, q, {"body": 1.0}, precision=p),
    "common_terms_query": lambda i, m, q, p: common_terms_query(
        i, q, precision=p),
    "join_util_search": lambda i, m, q, p: _join_util(i, q, p),
    "complex_phrase_search": lambda i, m, q, p: _complex_phrase(i, q, p),
}


@pytest.mark.parametrize("precision", ["float32", "float64"])
@pytest.mark.parametrize("name", list(SCORERS))
def test_empty_schema_is_the_matching_schema(indexes, fields, name,
                                             precision):
    run = SCORERS[name]
    plain = indexes[0]
    match = run(plain, fields, "running meetings", precision)
    empty = run(plain, fields, Q, precision)
    assert match.collect(), "the matching query must match"
    assert empty.collect() == []
    assert empty.schema == match.schema
    assert dict(match.dtypes)["score"] == (
        "double" if precision == "float64" else "float")


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_more_like_this_score_type(indexes, precision):
    plain = indexes[0]
    key = plain.docmeta.orderBy("key").first()["key"]
    match = more_like_this(plain, key, min_term_freq=1, min_doc_freq=1,
                           precision=precision)
    # no term of the source doc reaches this document frequency
    empty = more_like_this(plain, key, min_term_freq=1, min_doc_freq=10**6,
                           precision=precision)
    assert match.collect() and empty.collect() == []
    assert key not in {r["key"] for r in match.collect()}
    assert empty.schema == match.schema
    assert dict(match.dtypes)["score"] == (
        "double" if precision == "float64" else "float")
