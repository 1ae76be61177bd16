"""Facet/stats/grouping operator tests vs hand-computed expectations."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType

from lucene_solr_old_spark.functions.tokenizer import analyze_terms
from lucene_solr_old_spark.operators.facets import (
    facet_field, facet_queries, facet_range, group_topk, matching_docs,
    stats_agg)
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages


@pytest.fixture(scope="module")
def setup(spark):
    corpus = gen_pages(150, seed=99)
    df = spark.createDataFrame(corpus, schema=PAGES_SCHEMA)
    dims = df.select(F.col("url").alias("key"), "lang",
                     F.length("text").alias("n_chars"))
    idx = build_index(df, num_segments=3).persist()
    return corpus, idx, dims


def _matching_urls(corpus, terms, mode="OR"):
    out = set()
    for url, _ts, _html, text, _lang in corpus:
        toks = set(analyze_terms(text))
        hit = [t in toks for t in terms]
        if (mode == "OR" and any(hit)) or (mode == "AND" and all(hit)):
            out.add(url)
    return out


def test_matching_docs(setup):
    corpus, idx, _ = setup
    terms = ["run", "meet"]  # stems of running/meetings
    got = {r["key"] for r in matching_docs(idx, terms, "OR").collect()}
    assert got == _matching_urls(corpus, terms, "OR")
    got_and = {r["key"] for r in matching_docs(idx, terms, "AND").collect()}
    assert got_and == _matching_urls(corpus, terms, "AND")


def test_facet_field(setup):
    corpus, idx, dims = setup
    terms = ["run"]
    docs = matching_docs(idx, terms)
    got = {(r["value"], r["cnt"]) for r in
           facet_field(docs, dims, "lang").collect()}
    langs = {}
    for url, _ts, _html, text, lang in corpus:
        if url in _matching_urls(corpus, terms):
            langs[lang] = langs.get(lang, 0) + 1
    assert got == set(langs.items())


def test_facet_range_and_queries(setup):
    corpus, idx, dims = setup
    docs = matching_docs(idx, ["run"])
    rows = facet_range(docs, dims, "n_chars", 0, 5000, 500).collect()
    assert sum(r["cnt"] for r in rows) <= docs.count()
    fq = {r["name"]: r["cnt"] for r in facet_queries(
        idx, {"runs": (["run"], "OR"),
              "run+meet": (["run", "meet"], "AND")}).collect()}
    assert fq["runs"] == len(_matching_urls(corpus, ["run"]))
    assert fq["run+meet"] == len(_matching_urls(corpus, ["run", "meet"], "AND"))


def test_stats_and_grouping(setup):
    corpus, idx, dims = setup
    docs = matching_docs(idx, ["run"])
    st = stats_agg(docs, dims, "n_chars").collect()[0]
    assert st["cnt"] == docs.count()
    assert st["min"] <= st["mean"] <= st["max"]
    by_lang = stats_agg(docs, dims, "n_chars", group_by="lang").collect()
    assert sum(r["cnt"] for r in by_lang) == st["cnt"]

    grouped = group_topk(idx, ["run", "meet"], dims, "lang", k_per_group=2)
    # float32 scores, like every other float32 entry point's collector
    assert isinstance(grouped.schema["score"].dataType, FloatType)
    g = grouped.collect()
    per_group = {}
    for r in g:
        per_group.setdefault(r["lang"], []).append(r)
    for lang, rows in per_group.items():
        assert len(rows) <= 2
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_get_docs_and_term_vector(spark, setup):
    from lucene_solr_old_spark.operators.docfetch import get_docs, term_vector

    corpus, idx, dims = setup
    keys = [corpus[0][0], corpus[1][0]]
    got = get_docs(idx, keys, stored=dims).collect()
    assert {r["key"] for r in got} == set(keys)
    assert all(r["lang"] is not None and r["doclen"] > 0 for r in got)

    df = spark.createDataFrame(
        [(u, t) for u, _ts, _h, t, _l in corpus[:3]], "key STRING, text STRING")
    tv = term_vector(df, [corpus[0][0]]).collect()
    # cross-check against the index's own postings for that doc
    from collections import Counter

    from lucene_solr_old_spark.functions.tokenizer import analyze
    exp = Counter(t.term for t in analyze(corpus[0][3]))
    got_tv = {r["term"]: r["freq"] for r in tv}
    assert got_tv == dict(exp)
    for r in tv:
        assert len(r["positions"]) == r["freq"]
