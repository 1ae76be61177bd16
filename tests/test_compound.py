"""One compound scorer behind three parsers.

The classic parser, the surround parser and the XML parser build their
boolean queries through the same combinator, so the same query written in
each syntax must give the same documents and the same float64 scores.
"""

import pytest

from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.plans.query import bool_score_frame
from lucene_solr_old_spark.plans.surround import surround_score_frame
from lucene_solr_old_spark.plans.xml import xml_score_frame

DOCS = [
    "alpha beta gamma", "alpha alpha beta", "alpha gamma delta",
    "beta gamma", "gamma delta epsilon", "alpha", "beta beta beta alpha",
    "delta alpha gamma gamma", "epsilon beta", "alpha beta gamma delta",
]


def _xml(a: str, b: str, occur_a: str, occur_b: str) -> str:
    return ("<BooleanQuery>"
            f'<Clause occurs="{occur_a}"><TermQuery>{a}</TermQuery></Clause>'
            f'<Clause occurs="{occur_b}"><TermQuery>{b}</TermQuery></Clause>'
            "</BooleanQuery>")


# (classic, surround, XML): must/must, should/should, must/mustnot
PAIRS = [
    ("+alpha +beta", "alpha AND beta", _xml("alpha", "beta", "must", "must")),
    ("alpha beta", "alpha OR beta",
     _xml("alpha", "beta", "should", "should")),
    ("+alpha -gamma", "alpha NOT gamma",
     _xml("alpha", "gamma", "must", "mustnot")),
]


@pytest.fixture(scope="module")
def index(spark):
    df = spark.createDataFrame([(f"d{i}", t) for i, t in enumerate(DOCS)],
                               "url STRING, text STRING")
    return build_index(df, num_segments=2, analyzer="ws_lower").persist()


def _scores(frame) -> dict:
    return {(r["seg"], r["docid"]): r["score"] for r in frame.collect()}


@pytest.mark.parametrize("classic, surround, xml", PAIRS,
                         ids=["must_must", "should_should", "must_mustnot"])
def test_parsers_agree(index, classic, surround, xml):
    got = {
        "classic": _scores(bool_score_frame(index, classic, "float64")),
        "surround": _scores(surround_score_frame(index, surround, "float64")),
        "xml": _scores(xml_score_frame(index, xml, "float64")),
    }
    ref = got["classic"]
    assert ref  # every query matches something on this corpus
    for name, scores in got.items():
        assert set(scores) == set(ref), name
        for key, score in scores.items():
            assert score == pytest.approx(ref[key], rel=1e-12), (name, key)


def test_must_not_phrase_excludes_phrase_matches_only(spark):
    """A MUST_NOT phrase drops the documents holding the phrase, not every
    document holding one of its terms (``ReqExclScorer`` over the
    PhraseQuery's doc set)."""
    from lucene_solr_old_spark.plans.query import execute

    df = spark.createDataFrame(
        [("d0", "alpha beta"), ("d1", "alpha gamma"), ("d2", "beta alpha")],
        "url STRING, text STRING")
    idx = build_index(df, num_segments=1, analyzer="ws_lower")
    keys = sorted(r["key"] for r in
                  execute(idx, '+alpha -"alpha beta"').collect())
    assert keys == ["d1", "d2"]


def test_two_sloppy_phrases_score_as_their_sum(spark):
    """Each sloppy phrase is a Python step of its own in the one compound
    statement: a document scores the float64 sum of the two phrases' own
    scores, so neither step's frame stands in for the other's."""
    from lucene_solr_old_spark.operators.search import search_phrase
    from lucene_solr_old_spark.plans.query import execute

    df = spark.createDataFrame(
        [("d0", "alpha x beta gamma delta"), ("d1", "alpha beta"),
         ("d2", "gamma y z delta"), ("d3", "beta alpha delta x gamma"),
         ("d4", "alpha gamma"), ("d5", "delta gamma alpha beta")],
        "url STRING, text STRING")
    idx = build_index(df, num_segments=2, analyzer="ws_lower")

    def scores(frame):
        return {r["key"]: r["score"] for r in frame.collect()}

    first = scores(search_phrase(idx, "alpha beta", k=20,
                                 precision="float64", slop=2))
    second = scores(search_phrase(idx, "gamma delta", k=20,
                                  precision="float64", slop=2))
    got = scores(execute(idx, '"alpha beta"~2 "gamma delta"~2', k=20,
                         precision="float64"))
    assert first and second and set(first) != set(second)
    assert got == {key: first.get(key, 0.0) + second.get(key, 0.0)
                   if key in first and key in second
                   else first.get(key, second.get(key))
                   for key in set(first) | set(second)}


def test_edismax_reads_each_fields_own_postings(spark):
    """An edismax word over two fields of a MultiFieldIndex reads both
    fields' postings in one statement: each document scores the max of
    its two per-field term clauses (tie 0)."""
    from lucene_solr_old_spark.operators.multifield import (
        MultiFieldIndex, search_edismax)
    from lucene_solr_old_spark.operators.search import search_or

    df = spark.createDataFrame(
        [("d0", "running shoes", "running"), ("d1", "runs daily", "walk"),
         ("d2", "walking", "running running"), ("d3", "run fast", "run"),
         ("d4", "nothing here", "shoes")],
        "url STRING, body STRING, tag STRING")
    body = build_index(df, text_col="body", num_segments=2)
    tag = build_index(df, text_col="tag", num_segments=2,
                      analyzer="ws_lower")
    mfi = MultiFieldIndex({"body": body, "tag": tag}, default_field="body")

    def scores(frame):
        return {r["key"]: r["score"] for r in frame.collect()}

    per_field = [scores(search_or(idx, "running", k=20, precision="float64"))
                 for idx in (body, tag)]
    assert per_field[0] and per_field[1] and per_field[0] != per_field[1]
    got = scores(search_edismax(mfi, "running", {"body": 1.0, "tag": 1.0},
                                k=20, precision="float64"))
    assert got == {key: max(s[key] for s in per_field if key in s)
                   for key in set(per_field[0]) | set(per_field[1])}
