"""Block join: ToParentBlockJoinQuery score modes + ToChild propagation."""

import numpy as np
import pytest

from lucene_solr_old_spark.operators.blockjoin import (
    search_children_of, to_child_join, to_parent_join)
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.operators.search import search_or

# products (parents) with sku children — the classic nested pattern
DOCS = [
    ("p1", "camera product page"),
    ("p1/s1", "black camera kit zoom"),
    ("p1/s2", "silver camera kit"),
    ("p2", "laptop product page"),
    ("p2/s1", "fast laptop zoom screen"),
    ("p3", "tripod product page"),
    ("p3/s1", "tripod legs"),
]
REL = [("p1/s1", "p1"), ("p1/s2", "p1"), ("p2/s1", "p2"), ("p3/s1", "p3")]


@pytest.fixture(scope="module")
def env(spark):
    df = spark.createDataFrame(DOCS, "url STRING, text STRING")
    idx = build_index(df, num_segments=2, analyzer="ws_stop").persist()
    rel = spark.createDataFrame(REL, "child_key STRING, parent_key STRING")
    return idx, rel


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_score_modes(spark, env):
    idx, rel = env
    child_scores = {r["key"]: float(r["score"])
                    for r in search_or(idx, "camera kit", k=10).collect()}
    s1, s2 = child_scores["p1/s1"], child_scores["p1/s2"]

    avg = {r["parent_key"]: (float(r["score"]), r["n_children"])
           for r in to_parent_join(idx, "camera kit", rel,
                                   score_mode="avg", k=10).collect()}
    # p1 has two matching children; avg in float64 then cast
    assert avg["p1"][1] == 2
    assert avg["p1"][0] == pytest.approx((s1 + s2) / 2, rel=1e-6)

    tot = {r["parent_key"]: float(r["score"])
           for r in to_parent_join(idx, "camera kit", rel,
                                   score_mode="total", k=10).collect()}
    assert tot["p1"] == pytest.approx(s1 + s2, rel=1e-6)

    mx = {r["parent_key"]: float(r["score"])
          for r in to_parent_join(idx, "camera kit", rel,
                                  score_mode="max", k=10).collect()}
    assert mx["p1"] == pytest.approx(max(s1, s2), rel=1e-6)

    none = {r["parent_key"]: float(r["score"])
            for r in to_parent_join(idx, "camera kit", rel,
                                    score_mode="none", k=10).collect()}
    assert set(none) == {"p1"} and none["p1"] == 0.0


def test_parent_filter(spark, env):
    idx, rel = env
    pf = idx.postings.sparkSession.createDataFrame(
        [("p2",)], "parent_key STRING")
    got = {r["parent_key"]
           for r in to_parent_join(idx, "zoom", rel, score_mode="max",
                                   parent_filter=pf, k=10).collect()}
    assert got == {"p2"}  # p1 matches 'zoom' too but is filtered out


def test_to_child_propagation(spark, env):
    idx, rel = env
    parents = idx.postings.sparkSession.createDataFrame(
        [("p1", 2.0), ("p3", 1.0)], "parent_key STRING, score DOUBLE")
    got = rows(to_child_join(idx, parents, rel, k=10))
    assert got == [("p1/s1", "p1", 2.0), ("p1/s2", "p1", 2.0),
                   ("p3/s1", "p3", 1.0)]


def test_search_children_of(spark, env):
    idx, rel = env
    # children matching 'zoom' whose parent page matches 'laptop'
    got = rows(search_children_of(idx, "laptop", "zoom", rel, k=10)
               .select("child_key", "parent_key"))
    assert got == [("p2/s1", "p2")]


def test_stopword_child_query_matches_no_parent(spark, env):
    # a child query that analyses to no term scores no child
    idx, rel = env
    out = to_parent_join(idx, "the of", rel, score_mode="avg", k=10)
    assert out.collect() == []
    assert out.columns == ["parent_key", "score", "n_children"]
