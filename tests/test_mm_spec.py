"""Solr minimum-should-match SPEC calculator + edismax mm/pf — mm
fixtures are the reference's SolrPluginUtilsTest values."""

import pytest

from lucene_solr_old_spark.operators.multifield import (
    calculate_min_should_match as msm)

CASES = [
    (5, "0", 0), (5, "0%", 0), (5, " -5 ", 0), (5, "\n -100% \n", 0),
    (5, " \n3\n ", 3), (5, "-3", 2), (3, "3", 3), (3, "-3", 0),
    (3, "5", 3), (3, "-5", 0),
    (3, " \n25% \n", 0), (4, "25%", 1), (5, " 25% ", 1), (10, "25%", 2),
    (3, " \n-25%\n ", 3), (4, "-25%", 3), (5, "-25%", 4), (10, "-25%", 8),
    (1, "3<0", 1), (2, "3<0", 2), (3, "3<0", 3), (4, "3<0", 0),
    (5, "3<0", 0),
    (1, "3<25%", 1), (2, " 3\n<\n25% ", 2), (3, "3<25%", 3),
    (4, "\n 3 < \n25%\n ", 1), (5, "3<25%", 1),
    (1, "\n3 < -25% 10 < -3 \n", 1), (2, " 3 < -25% 10 < -3\n", 2),
    (3, " 3 < -25% \n 10 < -3 \n", 3), (4, " 3 < -25% 10 < -3 ", 3),
    (5, " 3 < -25% 10 < -3", 4), (6, "3<-25% 10<-3", 5),
    (7, " 3 < -25% 10 < -3 ", 6), (8, " 3 < -25% 10 \n < -3\n", 6),
    (9, " 3 < -25% 10 < -3 \n", 7), (10, " 3 < -25% 10 < -3", 8),
    (11, "3<-25% 10<-3", 8), (12, "3<-25% 10<-3", 9),
    (100, "3<-25% 10<-3", 97),
]


@pytest.mark.parametrize("n,spec,exp", CASES)
def test_reference_fixtures(n, spec, exp):
    assert msm(n, spec) == exp


def test_edismax_mm_spec_and_pf(spark):
    from lucene_solr_old_spark.operators.multifield import (
        build_multifield_index, search_edismax)

    docs = spark.createDataFrame(
        [("1", "big data", "big data systems"),
         ("2", "small data", "data small tools"),
         ("3", "big cats", "nothing here")],
        "key STRING, title STRING, body STRING")
    mfi = build_multifield_index(
        docs, key_col="key", fields={"title": "title", "body": "body"},
        default_field="title", num_segments=2,
        analyzers={"title": "ws_stop", "body": "ws_stop"})
    # mm "100%": both words must match somewhere
    keys = sorted(r["key"] for r in search_edismax(
        mfi, "big data", {"title": 1.0, "body": 1.0},
        mm="100%", k=10).collect())
    assert keys == ["1"]
    # mm "50%": one of two suffices
    keys = sorted(r["key"] for r in search_edismax(
        mfi, "big data", {"title": 1.0, "body": 1.0},
        mm="50%", k=10).collect())
    assert keys == ["1", "2", "3"]
    # pf: the phrase "big data" in title boosts doc 1 above the rest
    rows = search_edismax(mfi, "big data", {"title": 1.0, "body": 1.0},
                          mm="50%", k=10,
                          pf={"title": 5.0}).collect()
    assert rows[0]["key"] == "1"
    no_pf = search_edismax(mfi, "big data", {"title": 1.0, "body": 1.0},
                           mm="50%", k=10).collect()
    top1 = {r["key"]: r["score"] for r in no_pf}
    boosted = {r["key"]: r["score"] for r in rows}
    assert boosted["1"] > top1["1"]
    assert abs(boosted["3"] - top1["3"]) < 1e-6  # no phrase, unchanged


def test_edismax_mm_counts_built_clauses_not_words(spark):
    """A query word that analyzes to no terms (a stopword under an
    'english'-analyzed field) produces no optional clause — Solr's edismax
    resolves the mm spec against the clauses actually built
    (``SolrPluginUtils.setMinShouldMatch`` runs on the built BooleanQuery),
    so mm="100%" with a stopword in the query must NOT filter everything."""
    from lucene_solr_old_spark.operators.multifield import (
        build_multifield_index, search_edismax)

    docs = spark.createDataFrame(
        [("1", "big data systems"), ("2", "small data tools"),
         ("3", "big cats")],
        "key STRING, body STRING")
    mfi = build_multifield_index(
        docs, key_col="key", fields={"body": "body"},
        default_field="body", num_segments=2,
        analyzers={"body": "english"})
    # "the" is a stopword under 'english': 3 words, 2 built clauses.
    keys = sorted(r["key"] for r in search_edismax(
        mfi, "the big data", {"body": 1.0}, mm="100%", k=10).collect())
    assert keys == ["1"]
    # all-stopword query: zero clauses built -> empty result, not a crash
    assert search_edismax(mfi, "the of and", {"body": 1.0},
                          mm="100%", k=10).count() == 0


def test_edismax_pf_keeps_stopword_holes(spark):
    """pf's phrase takes the analysed positions as offsets, as
    ``search_phrase`` does: under an 'english'-analyzed field "running the
    meetings" is run@0 meet@2, so only the document holding that phrase
    gets the boost, not "running meetings"."""
    from lucene_solr_old_spark.operators.multifield import (
        build_multifield_index, search_edismax)

    docs = spark.createDataFrame(
        [("1", "running the meetings"), ("2", "running meetings"),
         ("3", "meetings about running")],
        "key STRING, body STRING")
    mfi = build_multifield_index(
        docs, key_col="key", fields={"body": "body"},
        default_field="body", num_segments=1,
        analyzers={"body": "english"})
    query = "running the meetings"

    def scores(**kw):
        return {r["key"]: r["score"] for r in search_edismax(
            mfi, query, {"body": 1.0}, k=10, **kw).collect()}

    plain, boosted = scores(), scores(pf={"body": 1.0})
    assert set(plain) == set(boosted) == {"1", "2", "3"}
    assert boosted["1"] > plain["1"]
    assert boosted["2"] == plain["2"]
    assert boosted["3"] == plain["3"]
