"""Query plans are built as Spark SQL statements: each plan costs a fixed,
small number of py4j round trips, whatever its number of terms or queries;
user text reaches the SQL only as escaped literals; and a phrase or span
query of a shape already run compiles no new code.

An entry point runs its collector's statement when called and returns a
local frame; the round trips counted here are those of the build, up to
the statement's run (``search._collect``)."""

import re

import pytest

from lucene_solr_old_spark.functions.tokenizer import get_analyzer
from lucene_solr_old_spark.operators import indexer as I
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators import spans as SP
from lucene_solr_old_spark.operators import wand as W
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.multifield import (search_edismax,
                                                        search_fielded)
from lucene_solr_old_spark.plans.query import execute
from lucene_solr_old_spark.plans.surround import surround_search
from lucene_solr_old_spark.plans.xml import xml_search


@pytest.fixture(scope="module")
def loaded(fingerprint_indexes, tmp_path_factory, spark):
    """The fingerprint pages' plain and compressed indexes, saved and
    loaded, with their segment and term statistics read."""
    _df, plain, comp, _mfi = fingerprint_indexes
    root = tmp_path_factory.mktemp("sqlplans")
    out = []
    for name, idx in (("plain", plain), ("comp", comp)):
        idx.save(str(root / name))
        idx = I.load_index(spark, str(root / name))
        idx.collection_stats()
        idx.term_stats(["zzzwarm"])
        out.append(idx)
    return out


class _Built(Exception):
    """Raised where a collector would run the statement it built."""


@pytest.fixture
def build_calls(py4j_calls_per_call, monkeypatch):
    """Call ``make()`` up to its collector's run of the statement it
    built; returns the py4j round trips of that build."""
    def built(statement):
        raise _Built

    def build(make):
        try:
            make()
        except _Built:
            pass

    monkeypatch.setattr(S, "_collect", built)
    return lambda make: py4j_calls_per_call(lambda: build(make))


TWO = "running meetings"
SIX = "running meetings caresses ponies relational hopeful"
BUILDS = {
    "search_or": lambda p, c, q: S.search_or(p, q),
    "search_and": lambda p, c, q: S.search_and(p, q),
    "search_dismax": lambda p, c, q: S.search_dismax(p, q, tie_breaker=0.1),
    "search_phrase": lambda p, c, q: S.search_phrase(p, q),
    "span_near": lambda p, c, q: SP.span_near(p, q, slop=2),
    "wand_search": lambda p, c, q: W.wand_search(c, q),
}
BATCHES = {
    "batch_search": lambda p, c, qs: batch_search(p, qs),
    "batch_wand_search": lambda p, c, qs: W.batch_wand_search(c, qs),
}
# The DataFrame-chained builds took 149 (wand_search) to 833
# (search_phrase) round trips; a statement takes a handful, and a Python
# UDF or applyInPandas step a few dozen.
BUDGET = 64


def _workload(n: int) -> list[tuple]:
    words = SIX.split()
    return [(q, f"{words[q % 6]} {words[(q + 1) % 6]}",
             "AND" if q % 2 else "OR") for q in range(n)]


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_query_build_round_trips(name, loaded, build_calls):
    plain, comp = loaded
    build = BUILDS[name]
    for _ in range(2):  # register the index tables' views, and drop a
        build_calls(lambda: build(plain, comp, TWO))  # dead frame's view
    two = build_calls(lambda: build(plain, comp, TWO))
    six = build_calls(lambda: build(plain, comp, SIX))
    assert two == six and two <= BUDGET, (two, six)


@pytest.mark.parametrize("name", sorted(BATCHES))
def test_batch_build_round_trips(name, loaded, build_calls):
    plain, comp = loaded
    build = BATCHES[name]
    for _ in range(2):
        build_calls(lambda: build(plain, comp, _workload(4)))
    four = build_calls(lambda: build(plain, comp, _workload(4)))
    sixteen = build_calls(lambda: build(plain, comp, _workload(16)))
    assert four == sixteen and four <= BUDGET, (four, sixteen)


def _xml_should(words: list[str]) -> str:
    return "<BooleanQuery>" + "".join(
        f'<Clause occurs="should"><TermsQuery>{w}</TermsQuery></Clause>'
        for w in words) + "</BooleanQuery>"


# compound queries of one clause per word
COMPOUNDS = {
    "execute": lambda p, mfi, ws: execute(p, " ".join(ws)),
    "xml_search": lambda p, mfi, ws: xml_search(p, _xml_should(ws)),
    "surround_search": lambda p, mfi, ws: surround_search(p, " OR ".join(ws)),
    "search_fielded": lambda p, mfi, ws: search_fielded(
        mfi, " ".join(f"raw:{w}" if i % 2 else w for i, w in enumerate(ws))),
    "search_edismax": lambda p, mfi, ws: search_edismax(
        mfi, " ".join(ws), {"body": 1.0, "raw": 2.0}, tie=0.1, mm="50%",
        pf={"body": 1.5}),
}


@pytest.mark.parametrize("name", sorted(COMPOUNDS))
def test_compound_build_round_trips(name, loaded, fingerprint_indexes,
                                    build_calls):
    """A compound query is one statement, whatever its number of clauses."""
    plain, _comp = loaded
    mfi = fingerprint_indexes[3]
    build = COMPOUNDS[name]
    for _ in range(2):
        build_calls(lambda: build(plain, mfi, TWO.split()))
    two = build_calls(lambda: build(plain, mfi, TWO.split()))
    six = build_calls(lambda: build(plain, mfi, SIX.split()))
    assert two == six and two <= BUDGET, (two, six)


def test_full_grammar_regexp_is_one_registered_function(loaded, spark,
                                                        build_calls):
    """The full-grammar regexp predicate is a SQL function registered once
    per session, its pattern a literal: a new pattern builds no new
    Python function, also after ``get_spark`` returns the session again."""
    from lucene_solr_old_spark.session import get_spark

    plain, _comp = loaded
    build_calls(lambda: execute(plain, "/run[a-z]*&~(run)/"))
    one = build_calls(lambda: execute(plain, "/run[a-z]*&~(run)/"))
    two = build_calls(lambda: execute(plain, "/meet[a-z]*&~(meet)/"))
    assert get_spark("tests", master="local[4]", shuffle_partitions=8) \
        is spark
    again = build_calls(
        lambda: execute(plain, "/(run|meet)[a-z]*&~(running)/"))
    assert one == two == again and one <= BUDGET, (one, two, again)


@pytest.mark.parametrize("run", [
    lambda p, q: S.search_phrase(p, q),
    lambda p, q: S.search_phrase(p, q, slop=2),
    lambda p, q: SP.span_near(p, q, slop=2),
], ids=["exact", "sloppy", "span_near"])
def test_new_phrase_of_a_known_shape_compiles_nothing(run, loaded, spark):
    """The phrase weight travels in the slot fan-out literal, not as a
    float literal Spark would write into the generated code."""
    plain, _comp = loaded
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = metrics.METRIC_COMPILATION_TIME()
    assert run(plain, "aad aakvslvyai").collect()
    before = compiled.getCount()
    assert run(plain, "aaeevnqlbaa aaferqwx").collect()
    assert compiled.getCount() == before


# Terms with the characters SQL text or its formatter treat specially
ODD = ["o'brien", "back\\slash", "{brace}", "a}b{c", "${spark.master}",
       "naïve", "日本", "q''t"]
ODD_DOCS = [
    ("d0", "o'brien {brace} naïve"),
    ("d1", "back\\slash ${spark.master} o'brien"),
    ("d2", "{brace} o'brien a}b{c"),
    ("d3", "日本 q''t naïve plain"),
    ("d4", "plain words only"),
    ("d5", "a}b{c ${spark.master} back\\slash 日本"),
]


@pytest.fixture(scope="module")
def odd(spark, tmp_path_factory):
    """A whitespace-analysed index of ``ODD_DOCS``, saved and loaded so
    its postings scan is a Parquet scan."""
    docs = spark.createDataFrame(ODD_DOCS, "url STRING, text STRING")
    path = str(tmp_path_factory.mktemp("odd") / "idx")
    I.build_index(docs, num_segments=2, analyzer="ws_lower").save(path)
    return I.load_index(spark, path)


def _holding(terms, every=False):
    """Keys of the documents holding any (or every) term of ``terms``."""
    analyze = get_analyzer("ws_lower")
    test = all if every else any
    return {key for key, text in ODD_DOCS
            if test(t in {x.term for x in analyze(text)} for t in terms)}


def _adjacent(first, second):
    analyze = get_analyzer("ws_lower")
    out = set()
    for key, text in ODD_DOCS:
        terms = [x.term for x in analyze(text)]
        if any(a == first and b == second for a, b in zip(terms, terms[1:])):
            out.add(key)
    return out


@pytest.mark.parametrize("pair", [ODD[i:i + 2] for i in range(0, 8, 2)])
def test_odd_terms_match_exactly(odd, pair):
    text = " ".join(pair)
    assert {r["key"] for r in S.search_or(odd, text, k=10).collect()} \
        == _holding(pair)
    assert {r["key"] for r in S.search_and(odd, text, k=10).collect()} \
        == _holding(pair, every=True)
    assert {r["key"] for r in S.search_phrase(odd, text, k=10).collect()} \
        == _adjacent(*pair)


def test_odd_terms_batch_and_clause(odd):
    queries = [(i, t, "OR") for i, t in enumerate(ODD)]
    got: dict = {}
    for r in batch_search(odd, queries, k=10).collect():
        got.setdefault(r["qid"], set()).add(r["key"])
    assert got == {i: _holding([t]) for i, t in enumerate(ODD)}
    docs = S._with_keys(S._term_set_docs(odd, ODD[:3]), odd)
    assert {r["key"] for r in docs.collect()} == _holding(ODD[:3])


def test_rendered_scan_pushes_term_in(odd, monkeypatch):
    statements, collect = [], S._collect
    monkeypatch.setattr(S, "_collect", lambda statement: statements.append(
        statement) or collect(statement))
    S.search_or(odd, "o'brien {brace}")
    plan = statements[0]._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("In(term," in p for p in pushed), plan
