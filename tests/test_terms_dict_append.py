"""Appends into a saved index: a stored terms_dict must not survive them
(it would silently drop newly indexed terms from every multi-term
expansion and from term_stats), whatever form the index path takes; the
saved segments' stats must stay visible next to the flushed ones; and
packed layout is write-once."""

import os

import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators.indexer import build_index, load_index


def _idx(spark, rows):
    df = spark.createDataFrame(rows, "k STRING, t STRING")
    return build_index(df, key_col="k", text_col="t", num_segments=2,
                       analyzer="ws_lower")


def test_save_append_drops_stored_terms_dict(spark, tmp_path):
    path = str(tmp_path / "idx")
    _idx(spark, [("a", "alpha beta"), ("b", "beta gamma")]).save(path)
    assert os.path.isdir(os.path.join(path, "terms_dict"))

    idx2 = _idx(spark, [("c", "delta epsilon")])
    idx2.postings = idx2.postings.withColumn(
        "seg", (F.col("seg") + 2).cast("int"))
    idx2.docmeta = idx2.docmeta.withColumn(
        "seg", (F.col("seg") + 2).cast("int"))
    idx2.segstats = idx2.segstats.withColumn(
        "seg", (F.col("seg") + 2).cast("int"))
    idx2.save(path, mode="append")

    # the stale stored dict is gone, and a reloaded index sees the NEW terms
    assert not os.path.isdir(os.path.join(path, "terms_dict"))
    reloaded = load_index(spark, path)
    stats = reloaded.term_stats(["delta", "beta"])
    assert stats["delta"][0] == 1
    assert stats["beta"][0] == 2
    terms = {r["term"] for r in reloaded.terms_dict().collect()}
    assert {"alpha", "beta", "gamma", "delta", "epsilon"} <= terms


def test_flush_index_batch_drops_stored_terms_dict(spark, tmp_path):
    from lucene_solr_old_spark.streaming.incremental import flush_index_batch

    path = str(tmp_path / "idx")
    _idx(spark, [("a", "alpha beta")]).save(path)
    assert os.path.isdir(os.path.join(path, "terms_dict"))

    batch = spark.createDataFrame([("c", "delta epsilon")],
                                  "k STRING, t STRING")
    flush_index_batch(batch, batch_id=7, index_path=path, key_col="k",
                      text_col="t", analyzer="ws_lower")
    assert not os.path.isdir(os.path.join(path, "terms_dict"))
    reloaded = load_index(spark, path)
    assert reloaded.term_stats(["delta"])["delta"][0] == 1


def test_flush_index_batch_keeps_saved_segstats(spark, tmp_path):
    """segstats of a saved index and of a later flush share one table:
    global maxDoc / sumTotalTermFreq (idf, avgdl) cover both."""
    from lucene_solr_old_spark.streaming.incremental import flush_index_batch

    path = str(tmp_path / "idx")
    _idx(spark, [("a", "alpha beta"), ("b", "beta gamma")]).save(path)
    batch = spark.createDataFrame([("c", "delta epsilon")],
                                  "k STRING, t STRING")
    flush_index_batch(batch, batch_id=7, index_path=path, key_col="k",
                      text_col="t", analyzer="ws_lower")
    assert load_index(spark, path).collection_stats() == (3, 6)


def test_flush_index_batch_drops_terms_dict_at_uri(spark, tmp_path):
    """The stale dictionary is removed through the Hadoop FileSystem, so a
    ``file://`` (or any scheme's) index path is handled like a plain one."""
    from lucene_solr_old_spark.streaming.incremental import flush_index_batch

    path = str(tmp_path / "idx")
    _idx(spark, [("a", "alpha beta")]).save(path)
    batch = spark.createDataFrame([("z", "zebra")], "k STRING, t STRING")
    flush_index_batch(batch, batch_id=7, index_path="file://" + path,
                      key_col="k", text_col="t", analyzer="ws_lower")
    assert not os.path.isdir(os.path.join(path, "terms_dict"))
    assert load_index(spark, path).term_stats(["zebra"])["zebra"] == (1, 1)


def test_packed_layout_rejects_append(spark, tmp_path):
    path = str(tmp_path / "idx")
    idx = _idx(spark, [("a", "alpha beta")])
    with pytest.raises(ValueError, match="write-once"):
        idx.save(path, mode="append", layout="packed")
