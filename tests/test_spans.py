"""SpanNear + CommonTermsQuery semantics on a hand-built corpus."""

import pytest

from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.operators.spans import common_terms_query, span_near

DOCS = [
    ("d1", "alpha beta gamma delta"),       # alpha..gamma ordered span 3
    ("d2", "gamma xx alpha"),               # unordered span 3, not ordered
    ("d3", "alpha xx xx xx xx gamma"),      # span 6 (> slop budget)
    ("d4", "alpha gamma"),                  # tight ordered span 2
    ("d5", "gamma alpha gamma"),            # both orders available
    ("d6", "alpha beta"),                   # missing gamma
]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(DOCS, "url STRING, text STRING")
    return build_index(df, num_segments=2, analyzer="ws_stop").persist()


def keys(df):
    return {r["key"] for r in df.collect()}


def test_span_near_ordered(idx):
    # window budget = 2 terms + slop 1 = 3 positions
    got = keys(span_near(idx, "alpha gamma", slop=1, in_order=True, k=10))
    assert got == {"d1", "d4", "d5"}


def test_span_near_unordered(idx):
    got = keys(span_near(idx, "alpha gamma", slop=1, in_order=False, k=10))
    assert got == {"d1", "d2", "d4", "d5"}


def test_span_near_slop_zero_adjacent_only(idx):
    got = keys(span_near(idx, "alpha gamma", slop=0, in_order=True, k=10))
    assert got == {"d4", "d5"}


def test_span_near_wide_slop(idx):
    got = keys(span_near(idx, "alpha gamma", slop=4, in_order=True, k=10))
    assert got == {"d1", "d3", "d4", "d5"}


def test_common_terms_matches_low_df_docs_only(spark, idx):
    # 'alpha' df=5/6 (high at ratio 0.5), 'beta' df=2/6 (low)
    got = common_terms_query(idx, "alpha beta", max_df_ratio=0.5, k=10)
    gk = keys(got)
    assert gk == {"d1", "d6"}  # only docs containing the low-df term
    # scores include the high-df contribution where present
    or_scores = {r["key"]: r["score"]
                 for r in S.search_or(idx, "alpha beta", k=10).collect()}
    ct_scores = {r["key"]: r["score"] for r in got.collect()}
    for k_ in gk:
        assert ct_scores[k_] == pytest.approx(or_scores[k_], rel=1e-6)


def test_common_terms_all_high_falls_back(idx):
    got = common_terms_query(idx, "alpha gamma", max_df_ratio=0.01, k=10)
    assert len(keys(got)) > 0  # falls back to plain disjunction


def test_multi_phrase(idx, spark):
    from lucene_solr_old_spark.operators.spans import multi_phrase

    # "alpha (beta|gamma)" — beta path matches d1/d6; gamma path d4/d5
    got = keys(multi_phrase(idx, [["alpha"], ["beta", "gamma"]], k=10))
    assert got == {"d1", "d4", "d5", "d6"}
    # single-member slots degrade to exact phrase
    exact = keys(multi_phrase(idx, [["alpha"], ["gamma"]], k=10))
    from lucene_solr_old_spark.operators.search import search_phrase
    assert exact == keys(search_phrase(idx, "alpha gamma", k=10))


@pytest.mark.parametrize("precision", ["float32", "float64"])
@pytest.mark.parametrize("text", ["alpha gamma", "gamma alpha gamma"])
def test_singleton_multi_phrase_is_phrase(idx, text, precision):
    """One-term slots score exactly as the phrase, a repeated term
    included, in either precision (one summed-idf weight)."""
    from lucene_solr_old_spark.operators.spans import multi_phrase

    slots = [[t] for t in text.split()]
    got = {r["key"]: r["score"] for r in
           multi_phrase(idx, slots, k=10, precision=precision).collect()}
    want = {r["key"]: r["score"] for r in
            S.search_phrase(idx, text, k=10,
                            precision=precision).collect()}
    assert want and got == want


@pytest.mark.parametrize("slots", [[["alpha"], ["the"]], [["the"], ["a"]]])
def test_multi_phrase_stopword_slot_matches_nothing(idx, slots):
    from lucene_solr_old_spark.operators.spans import multi_phrase

    assert multi_phrase(idx, slots, k=10).collect() == []


def test_highlight_analyzed(spark):
    from lucene_solr_old_spark.operators.highlight import highlight_analyzed

    df = spark.createDataFrame(
        [("a", "The Running foxes were meeting near the river."),
         ("b", "nothing to see here"),
         ("c", "run " + "x" * 200 + " running")],
        "key STRING, text STRING")
    out = {r["key"]: r["snippet"]
           for r in highlight_analyzed(df, "running", frag=10).collect()}
    assert "b" not in out
    assert "<em>Running</em>" in out["a"]     # stem match, original casing
    assert out["c"].startswith("<em>run</em>")  # first match wins the fragment


def test_span_query_algebra(idx):
    """span_query trees: or / not / first compose with near."""
    from lucene_solr_old_spark.operators.spans import span_query

    # or(beta, gamma) near alpha, ordered slop 0
    tree = ("near", [("term", "alpha"),
                     ("or", [("term", "beta"), ("term", "gamma")])], 0, True)
    got = keys(span_query(idx, tree, k=10))
    assert got == {"d1", "d4", "d5", "d6"}

    # first(alpha, 1): alpha at position 0 only
    got = keys(span_query(idx, ("first", ("term", "alpha"), 1), k=10))
    assert got == {"d1", "d3", "d4", "d6"}

    # not: alpha spans not adjacent-overlapping xx... alpha never overlaps
    # another term's span, so use not(near(alpha,gamma), beta-span) style:
    # docs where an alpha..gamma ordered window (slop 1) exists that does
    # NOT overlap a beta occurrence
    inner = ("near", [("term", "alpha"), ("term", "gamma")], 1, True)
    got = keys(span_query(idx, ("not", inner, ("term", "beta")), k=10))
    # d1's window (0,3) overlaps beta@1 -> excluded; d4 (0,2), d5 (1,3) stay
    assert got == {"d4", "d5"}


def test_span_near_exact_scores(idx):
    """span scores = BM25(sum of 1/(width+1)) with summed-idf weight."""
    import numpy as np

    from lucene_solr_old_spark.functions.bm25 import Bm25Stats
    from lucene_solr_old_spark.functions.smallfloat import doclen_to_norm

    got = {r["key"]: float(r["score"])
           for r in span_near(idx, "alpha gamma", slop=1, in_order=True,
                              k=10).collect()}
    max_doc, sum_ttf = idx.collection_stats()
    stats = Bm25Stats(max_doc, sum_ttf)
    # df(alpha)=6, df(gamma)=5; weight over sorted distinct terms
    w = np.float32(0.0)
    for dfv in (6, 5):  # alpha, gamma sorted
        w = w + stats.idf(dfv)
    w = float(w * (stats.k1 + np.float32(1.0)))
    # d4 "alpha gamma": one match width 2 -> sfreq = 1/3
    sfreq = np.float32(1.0) / np.float32(3.0)
    cache = stats.cache[int(doclen_to_norm(2))]
    exp = float((np.float32(w) * sfreq) / (sfreq + np.float32(cache)))
    assert got["d4"] == pytest.approx(exp, rel=1e-6)
