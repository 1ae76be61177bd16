"""Multi-field indexing + fielded query tests."""

import numpy as np
import pytest

from lucene_solr_old_spark.functions.bm25 import Bm25Stats
from lucene_solr_old_spark.functions.smallfloat import doclen_to_norm
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.multifield import (
    build_multifield_index, parse_fielded, search_fielded)

DOCS = [
    ("u1", "spark engine overview", "the spark engine indexes documents"),
    ("u2", "merge policies", "tiered merges compact spark segments"),
    ("u3", "query parsing", "boolean queries and phrase queries"),
    ("u4", "spark tuning", "shuffle partitions and memory tuning"),
]


@pytest.fixture(scope="module")
def mfi(spark):
    df = spark.createDataFrame(DOCS, "url STRING, title STRING, body STRING")
    return build_multifield_index(
        df, key_col="url", fields={"title": "title", "body": "body"},
        default_field="body", num_segments=2)


def test_parse_fielded():
    assert parse_fielded("title:foo bar body:baz", "body") == [
        ("title", "foo"), ("body", "bar"), ("body", "baz")]


def test_field_isolation(mfi):
    # 'tune' (stem of tuning) in title only for u4; body only for u4 too —
    # use 'overview': title-only u1
    r = {x["key"] for x in search_fielded(mfi, "title:overview", k=10).collect()}
    assert r == {"u1"}
    r2 = {x["key"] for x in search_fielded(mfi, "body:overview", k=10).collect()}
    assert r2 == set()


def test_default_field(mfi):
    r = {x["key"] for x in search_fielded(mfi, "shuffle", k=10).collect()}
    assert r == {"u4"}


def test_per_field_stats(mfi):
    """'spark' scores against each field's OWN df/avgdl — the title hit and
    body hit have different idf; the single-field oracle checks one side."""
    title_idx = mfi.field("title")
    got = {r["key"]: r["score"]
           for r in search_fielded(mfi, "title:spark", k=10).collect()}
    exp = {r["key"]: r["score"]
           for r in S.search_or(title_idx, "spark", k=10).collect()}
    assert got == exp


def test_cross_field_sum(mfi):
    """title:spark body:spark == float sum of per-field scores per doc."""
    t = {r["key"]: float(r["score"])
         for r in search_fielded(mfi, "title:spark", k=10).collect()}
    b = {r["key"]: float(r["score"])
         for r in search_fielded(mfi, "body:spark", k=10).collect()}
    both = {r["key"]: float(r["score"])
            for r in search_fielded(mfi, "title:spark body:spark",
                                    k=10).collect()}
    for key in both:
        exp = t.get(key, 0.0) + b.get(key, 0.0)
        assert both[key] == pytest.approx(exp, rel=1e-6), key


def test_edismax_dismax_and_mm(spark):
    """edismax: per-word cross-field dismax with tie + minimum match."""
    import numpy as np
    import pytest as _pt

    from lucene_solr_old_spark.operators.indexer import build_index
    from lucene_solr_old_spark.operators.multifield import (MultiFieldIndex,
                                                            search_edismax)
    from lucene_solr_old_spark.operators.search import search_or

    rows = [("d1", "spark engine guide", "spark"),
            ("d2", "merge policies", "docs"),
            ("d3", "unrelated text", "spark"),
            ("d4", "spark spark spark", "other")]
    df = spark.createDataFrame(rows, "url STRING, body STRING, tag STRING")
    body = build_index(df, key_col="url", text_col="body", num_segments=2,
                       analyzer="ws_stop").persist()
    tag = build_index(df, key_col="url", text_col="tag", num_segments=2,
                      analyzer="ws_stop").persist()
    mfi = MultiFieldIndex({"body": body, "tag": tag}, default_field="body")

    got = {r["key"]: float(r["score"])
           for r in search_edismax(mfi, "spark merge",
                                   qf={"body": 1.0, "tag": 2.0},
                                   tie=0.5, k=10).collect()}
    # cross-check d1 (matches 'spark' in BOTH fields) by hand
    b = {r["key"]: float(r["score"])
         for r in search_or(body, "spark", k=10).collect()}
    t2 = {r["key"]: float(r["score"])
          for r in search_or(tag, "spark", k=10).collect()}
    tag_boosted = 2.0 * t2["d1"]  # f32 boost fold differs slightly; approx
    mx, sm = max(b["d1"], tag_boosted), b["d1"] + tag_boosted
    assert got["d1"] == _pt.approx(mx + 0.5 * (sm - mx), rel=1e-4)
    # d3 matches only via tag; d2 only via body('merge'); d4 only body
    assert set(got) == {"d1", "d2", "d3", "d4"}
    # mm=2 requires both words
    got2 = {r["key"] for r in
            search_edismax(mfi, "spark merge", qf={"body": 1.0, "tag": 2.0},
                           mm=2, k=10).collect()}
    assert got2 == set()  # no doc matches both words


class TestFieldMaskingSpan:
    """FieldMaskingSpanQuery (spans/FieldMaskingSpanQuery.java Javadoc
    example shape): same-analyzer fields with parallel positions compose
    in one span tree."""

    @pytest.fixture(scope="class")
    def mfi(self, spark):
        from lucene_solr_old_spark.operators.multifield import (
            build_multifield_index)

        docs = spark.createDataFrame(
            [("d1", "james mary", "smith jones"),
             ("d2", "mary james", "jones smith"),
             ("d3", "james sally", "jones baker")],
            "k STRING, first STRING, last STRING")
        return build_multifield_index(
            docs, key_col="k", fields={"first": "first", "last": "last"},
            default_field="first", num_segments=2,
            analyzers={"first": "ws_stop", "last": "ws_stop"})

    def test_masked_ordered_near(self, mfi):
        from lucene_solr_old_spark.operators.multifield import (
            masked_span_query)

        # first:james immediately followed (parallel positions) by
        # last:jones — i.e. a person named "james jones"
        tree = ("near", [("term", "james"),
                         ("mask", ("term", "jones"), "last")], 0, True)
        hits = masked_span_query(mfi, tree, k=10).collect()
        # d1: james@0 then jones@1 -> ordered gap 0. d2: jones precedes
        # james. d3: identical starts are NOT ordered (docSpansOrdered).
        assert [r["key"] for r in hits] == ["d1"]

    def test_masked_same_position(self, mfi):
        from lucene_solr_old_spark.operators.multifield import (
            masked_span_query)

        # unordered, slop 0: james(first) and jones(last) in the SAME slot
        tree = ("near", [("term", "james"),
                         ("mask", ("term", "jones"), "last")], 0, False)
        hits = masked_span_query(mfi, tree, k=10).collect()
        keys = sorted(r["key"] for r in hits)
        # adjacent or same-slot pairs all fit in slop 0 unordered
        assert keys == ["d1", "d2", "d3"]

    @pytest.mark.parametrize("precision", ["float32", "float64"])
    def test_unmasked_tree_is_span_query(self, mfi, precision):
        """With every leaf in the default field, the masked query scores
        exactly as span_query on that field (one summed-idf weight)."""
        from lucene_solr_old_spark.operators.multifield import (
            masked_span_query)
        from lucene_solr_old_spark.operators.spans import span_query

        tree = ("near", [("term", "james"), ("term", "mary")], 1, False)
        got = {r["key"]: r["score"] for r in masked_span_query(
            mfi, tree, k=10, precision=precision).collect()}
        want = {r["key"]: r["score"] for r in span_query(
            mfi.field("first"), tree, k=10, precision=precision).collect()}
        assert want and got == want

    def test_masked_not_excludes(self, mfi):
        from lucene_solr_old_spark.operators.multifield import (
            masked_span_query)

        # james, unless sally follows within the same field
        tree = ("not", ("term", "james"),
                ("near", [("term", "james"), ("term", "sally")], 0, True))
        hits = masked_span_query(mfi, tree, k=10).collect()
        assert sorted(r["key"] for r in hits) == ["d1", "d2"]
