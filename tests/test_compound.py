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
