"""The global term dictionary (InvertedIndex.terms_dict).

The reference writes one term dictionary per segment
(``lucene/core/src/java/org/apache/lucene/codecs/
BlockTreeTermsWriter.java:177-187``) and sums term statistics over the
segments; the postings table's (seg, term, df, ttf) rows are those
dictionaries here.  terms_dict() sums them once per index object and
persists the result, and every multi-term expansion (fuzzy / wildcard /
surround truncation / spellcheck / suggest / MLT) probes that one frame.
"""

import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators.indexer import (build_index,
                                                     load_index)

DOCS = [
    ("u1", "the quick brown fox jumps over the lazy dog"),
    ("u2", "quick foxes quickly jump over lazy dogs daily"),
    ("u3", "sphinx of black quartz judge my vow"),
    ("u4", "the five boxing wizards jump quickly"),
    ("u5", "pack my box with five dozen liquor jugs"),
]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(DOCS, ["url", "text"])
    return build_index(df, num_segments=2, analyzer="english").persist()


def test_terms_dict_matches_postings_aggregate(idx):
    want = {r["term"]: (r["df"], r["ttf"]) for r in
            idx.postings.groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("ttf").cast("long").alias("ttf")).collect()}
    got = {r["term"]: (r["df"], r["ttf"]) for r in
           idx.terms_dict().collect()}
    assert got == want and len(got) > 10


def test_terms_dict_is_cached_single_object(idx):
    assert idx.terms_dict() is idx.terms_dict()


def test_term_stats_probes_materialized_dict(idx):
    """term_stats (a term-pruned postings scan) and the materialized
    dictionary sum the same per-segment rows."""
    idx.terms_dict().count()  # materialize
    stats = idx.term_stats(["quick", "jump", "nosuchterm"])
    d = {r["term"]: (r["df"], r["ttf"]) for r in idx.terms_dict().collect()}
    for t in ("quick", "jump"):
        assert stats[t] == d[t]
    assert stats["nosuchterm"] == (0, 0)


def test_fuzzy_expansion_uses_dict(idx, tmp_path, spark):
    from lucene_solr_old_spark.plans.query import FuzzyClause, _fuzzy_terms

    path = str(tmp_path / "idx2")
    idx.save(path)
    loaded = load_index(spark, path)
    terms = _fuzzy_terms(loaded, FuzzyClause("quikc", 2, max_expansions=50))
    assert "quick" in terms


def test_surround_expansion_uses_dict(idx, tmp_path, spark):
    from lucene_solr_old_spark.plans.surround import surround_search

    path = str(tmp_path / "idx3")
    idx.save(path)
    loaded = load_index(spark, path)
    out = surround_search(loaded, "qui*", k=10).collect()
    assert {r["key"] for r in out} >= {"u1", "u2"}


def test_spellcheck_over_loaded_index(idx, tmp_path, spark):
    from lucene_solr_old_spark.operators.spell import spellcheck

    path = str(tmp_path / "idx4")
    idx.save(path)
    loaded = load_index(spark, path)
    rows = spellcheck(loaded, "quik", max_edits=2, k=3).collect()
    assert rows and rows[0]["term"] == "quick"


def test_unpersist_releases_terms_dict(spark):
    from pyspark import StorageLevel

    df = spark.createDataFrame(DOCS[:2], ["url", "text"])
    own = build_index(df, num_segments=2, analyzer="english")
    td = own.terms_dict()
    td.count()
    assert td.storageLevel != StorageLevel.NONE
    own.unpersist()
    assert td.storageLevel == StorageLevel.NONE
