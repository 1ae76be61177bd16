"""Appends into a saved index.  Term statistics come only from each
segment's postings rows, so every writer that adds segments makes their
terms visible to the next reader, in term_stats and in every dictionary
expansion, without writing or deleting any global dictionary.  The saved
segments' stats stay visible next to the flushed ones, and the packed
layout is write-once."""

import os

import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators.indexer import build_index, load_index

OLD = [("a", "alpha beta"), ("b", "beta gamma")]
NEW = [("c", "delta epsilon")]


def _idx(spark, rows):
    df = spark.createDataFrame(rows, "k STRING, t STRING")
    return build_index(df, key_col="k", text_col="t", num_segments=2,
                       analyzer="ws_lower")


def _save_append(spark, path):
    _idx(spark, OLD).save(path)
    idx2 = _idx(spark, NEW)
    seg = (F.col("seg") + 2).cast("int")
    idx2.postings = idx2.postings.withColumn("seg", seg)
    idx2.docmeta = idx2.docmeta.withColumn("seg", seg)
    idx2.segstats = idx2.segstats.withColumn("seg", seg)
    idx2.save(path, mode="append")
    return load_index(spark, path)


def _flush(spark, path, target=None):
    from lucene_solr_old_spark.streaming.incremental import flush_index_batch

    _idx(spark, OLD).save(path)
    batch = spark.createDataFrame(NEW, "k STRING, t STRING")
    flush_index_batch(batch, batch_id=7, index_path=target or path,
                      key_col="k", text_col="t", analyzer="ws_lower")
    return load_index(spark, path)


def _flush_uri(spark, path):
    return _flush(spark, path, target="file://" + path)


def _checkpointed(spark, path):
    from lucene_solr_old_spark.sources.segments import (checkpointed_build,
                                                        load_checkpointed)

    docs = spark.createDataFrame(OLD + NEW, "k STRING, t STRING")
    checkpointed_build(spark, docs, path, n_shards=2, segments_per_shard=1,
                       key_col="k", text_col="t", analyzer="ws_lower")
    for s in range(2):
        assert not os.path.exists(
            os.path.join(path, "shards", str(s), "terms_dict"))
    return load_checkpointed(spark, path, 2)


WRITERS = [_save_append, _flush, _flush_uri, _checkpointed]


@pytest.mark.parametrize("write", WRITERS,
                         ids=[w.__name__.lstrip("_") for w in WRITERS])
def test_new_terms_visible_after_append(spark, tmp_path, write):
    from lucene_solr_old_spark.operators.spell import spellcheck
    from lucene_solr_old_spark.plans.query import execute

    path = str(tmp_path / "idx")
    reader = write(spark, path)
    assert not os.path.exists(os.path.join(path, "terms_dict"))

    assert reader.term_stats(["delta", "beta", "epsilon"]) == {
        "delta": (1, 1), "beta": (2, 2), "epsilon": (1, 1)}
    assert {r["key"] for r in execute(reader, "delt*").collect()} == {"c"}
    rows = spellcheck(reader, "epsilom", max_edits=1, k=3).collect()
    assert [r["term"] for r in rows] == ["epsilon"]


def test_flush_index_batch_keeps_saved_segstats(spark, tmp_path):
    """segstats of a saved index and of a later flush share one table:
    global maxDoc / sumTotalTermFreq (idf, avgdl) cover both."""
    assert _flush(spark, str(tmp_path / "idx")).collection_stats() == (3, 6)


def test_packed_layout_rejects_append(spark, tmp_path):
    path = str(tmp_path / "idx")
    idx = _idx(spark, [("a", "alpha beta")])
    with pytest.raises(ValueError, match="write-once"):
        idx.save(path, mode="append", layout="packed")
