"""validate_index: healthy indexes pass; corrupted ones are caught."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators.checkindex import validate_index
from lucene_solr_old_spark.operators.indexer import (
    InvertedIndex, build_index, compress_index)
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(gen_pages(150, seed=55), schema=PAGES_SCHEMA)
    return build_index(df, num_segments=3).persist()


def test_healthy_index_validates(idx):
    report = validate_index(idx)
    assert all(v == 0 for v in report.values()), report


def test_healthy_compressed_validates(idx):
    report = validate_index(compress_index(idx))
    assert all(v == 0 for v in report.values()), report


def test_corruption_detected(idx):
    # corrupt stored df on some rows
    bad = InvertedIndex(
        idx.postings.withColumn(
            "df", F.when(F.col("term") == "run", F.col("df") + 1)
            .otherwise(F.col("df"))),
        idx.docmeta, idx.segstats, idx.with_positions, idx.analyzer)
    report = validate_index(bad)
    assert report["bad_df"] > 0

    # corrupt a norm byte
    bad2 = InvertedIndex(
        idx.postings,
        idx.docmeta.withColumn(
            "norm", F.when(F.col("docid") == 0, 7).otherwise(F.col("norm"))),
        idx.segstats, idx.with_positions, idx.analyzer)
    report2 = validate_index(bad2)
    assert report2["bad_norms"] > 0

    # corrupt segstats
    bad3 = InvertedIndex(
        idx.postings, idx.docmeta,
        idx.segstats.withColumn("max_doc", F.col("max_doc") + 5),
        idx.with_positions, idx.analyzer)
    assert validate_index(bad3)["bad_segstats"] > 0


def test_offsets_index_validates(spark):
    from lucene_solr_old_spark.operators.checkindex import validate_index
    from lucene_solr_old_spark.operators.indexer import build_index

    df = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "beta delta")],
        "url STRING, text STRING")
    idx = build_index(df, num_segments=1, analyzer="ws_stop",
                      with_offsets=True)
    report = validate_index(idx)
    assert all(v == 0 for v in report.values()), report
    assert "offset_count_mismatch" in report


def test_saved_index_validates(spark, tmp_path, idx):
    """A saved and reloaded index passes every check."""
    from lucene_solr_old_spark.operators.indexer import load_index

    p = str(tmp_path / "idx")
    idx.save(p)
    report = validate_index(load_index(spark, p))
    assert all(v == 0 for v in report.values()), report


def test_append_rejects_packed_layout(spark, tmp_path, idx):
    from lucene_solr_old_spark.streaming.incremental import flush_index_batch

    p = str(tmp_path / "packedidx")
    idx.save(p, layout="packed")
    df = spark.createDataFrame(
        [("u1", "some new page text")], "url string, text string")
    with pytest.raises(ValueError, match="layout='segdir'"):
        flush_index_batch(df, batch_id=1, index_path=p)
