"""The NRT flush -> reopen path: derived-schema reads, the flush's
bookkeeping (meta, cache, session conf, job groups) and its job counts."""

import json
import os

import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators.indexer import (build_index,
                                                     compress_index,
                                                     load_index)
from lucene_solr_old_spark.operators.merge import delete_docs, merge_many
from lucene_solr_old_spark.operators.search import search_or
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages
from lucene_solr_old_spark.streaming.incremental import (flush_index_batch,
                                                         open_nrt_reader)

TABLES = ("postings", "docmeta", "segstats")
# the most jobs one flush may launch: the doc-routing shuffle, the cache
# fill, the emptiness take, the postings and docmeta writes, and the
# segstats aggregate's two
FLUSH_JOBS = 7


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(gen_pages(40, seed=3), PAGES_SCHEMA)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url STRING, text STRING")


def _write_plain(pages, p):
    build_index(pages, html_col="html", num_segments=3).save(p)


def _write_no_positions(pages, p):
    build_index(pages, html_col="html", num_segments=3,
                with_positions=False).save(p)


def _write_offsets(pages, p):
    build_index(pages, html_col="html", num_segments=3, analyzer="ws_stop",
                with_offsets=True).save(p)


def _write_compressed(pages, p):
    compress_index(build_index(pages, html_col="html",
                               num_segments=3)).save(p)


def _write_packed(pages, p):
    build_index(pages, html_col="html", num_segments=3).save(
        p, layout="packed")


def _write_merge_many(pages, p):
    idx = build_index(pages, html_col="html", num_segments=4)
    merge_many(idx, [[0, 1], [2, 3]]).save(p)


def _write_delete_docs(pages, p):
    idx = build_index(pages, html_col="html", num_segments=3)
    gone = pages.select(F.col("url").alias("key")).limit(5)
    delete_docs(idx, gone).save(p)


def _write_flush(pages, p):
    flush_index_batch(pages, 0, p, html_col="html")
    flush_index_batch(pages.limit(7), 1, p, html_col="html")


WRITERS = [_write_plain, _write_no_positions, _write_offsets,
           _write_compressed, _write_packed, _write_merge_many,
           _write_delete_docs, _write_flush]


def _rows(df):
    return sorted(df.collect(), key=repr)


def _assert_reads_match(spark, p, idx):
    """Every table of ``idx`` has the schema and rows of an inferred read,
    and those tables are all the index stores."""
    assert {d for d in os.listdir(p)
            if os.path.isdir(os.path.join(p, d))} == set(TABLES)
    for t in TABLES:
        got = getattr(idx, t)
        want = spark.read.parquet(os.path.join(p, t))
        assert got.schema == want.schema, t
        assert _rows(got) == _rows(want), t


@pytest.mark.parametrize("write", WRITERS,
                         ids=[w.__name__[len("_write_"):] for w in WRITERS])
def test_derived_schemas_match_inferred_read(spark, tmp_path, pages, write):
    p = str(tmp_path / "idx")
    write(pages, p)
    with open(os.path.join(p, "index_meta.json")) as f:
        assert {"with_positions", "with_offsets", "compressed"} <= \
            json.load(f).keys()
    _assert_reads_match(spark, p, load_index(spark, p))


def test_directory_without_flags_still_loads(spark, tmp_path, pages):
    p = str(tmp_path / "idx")
    _write_plain(pages, p)
    meta_path = os.path.join(p, "index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    want = load_index(spark, p).collection_stats()
    # a meta written before with_offsets was recorded, as plain Python
    # wrote it (no Hadoop checksum file)
    os.remove(os.path.join(p, ".index_meta.json.crc"))
    del meta["with_offsets"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    old = load_index(spark, p)
    _assert_reads_match(spark, p, old)
    assert old.collection_stats() == want
    # no meta at all: the english defaults
    os.remove(meta_path)
    bare = load_index(spark, p)
    assert bare.analyzer == "english"
    assert bare.collection_stats() == want


def test_loaded_offsets_index_keeps_with_offsets(spark, tmp_path, pages):
    p = str(tmp_path / "idx")
    _write_offsets(pages, p)
    assert load_index(spark, p).with_offsets


def test_empty_batch_is_a_no_op(spark, tmp_path):
    p = str(tmp_path / "idx")
    build_index(_docs(spark, [("a", "alpha beta")]), num_segments=2,
                analyzer="ws_lower").save(p)
    before = sorted(os.listdir(os.path.join(p, "postings")))
    flush_index_batch(_docs(spark, []), 5, p, text_col="text",
                      analyzer="ws_lower")
    assert sorted(os.listdir(os.path.join(p, "postings"))) == before
    fresh = str(tmp_path / "fresh")
    flush_index_batch(_docs(spark, []), 0, fresh)
    assert not os.path.exists(fresh)


def test_first_flush_writes_meta(spark, tmp_path):
    p = str(tmp_path / "idx")
    flush_index_batch(_docs(spark, [("a", "Alpha BETA"), ("b", "beta")]),
                      0, p, analyzer="ws_lower")
    idx = load_index(spark, p)
    assert (idx.analyzer, idx.with_positions, idx.with_offsets) == \
        ("ws_lower", True, False)
    assert idx.term_stats(["beta"])["beta"] == (2, 2)


def test_nrt_reader_takes_the_recorded_settings(spark, tmp_path):
    p = str(tmp_path / "idx")
    flush_index_batch(_docs(spark, [("a", "Runners run"), ("b", "walkers")]),
                      0, p, analyzer="ws_lower")
    reader = open_nrt_reader(spark, p)
    assert (reader.analyzer, reader.with_positions) == ("ws_lower", True)
    assert [r["key"] for r in search_or(reader, "runners").collect()] == ["a"]
    same = open_nrt_reader(spark, p, analyzer="ws_lower", with_positions=True)
    assert same.analyzer == "ws_lower"
    with pytest.raises(ValueError, match="analyzer"):
        open_nrt_reader(spark, p, analyzer="english")
    with pytest.raises(ValueError, match="with_positions"):
        open_nrt_reader(spark, p, with_positions=False)
    # a directory without a meta keeps the given values
    os.remove(os.path.join(p, "index_meta.json"))
    os.remove(os.path.join(p, ".index_meta.json.crc"))
    bare = open_nrt_reader(spark, p, analyzer="ws_lower",
                           with_positions=False)
    assert (bare.analyzer, bare.with_positions) == ("ws_lower", False)
    assert open_nrt_reader(spark, p).analyzer == "english"


def test_flush_rejects_compressed_index(spark, tmp_path):
    p = str(tmp_path / "idx")
    compress_index(build_index(_docs(spark, [("a", "alpha")]),
                               num_segments=2)).save(p)
    with pytest.raises(ValueError, match="compressed"):
        flush_index_batch(_docs(spark, [("b", "beta")]), 1, p)


def test_save_flush_load_on_file_uri(spark, tmp_path):
    p = str(tmp_path / "idx")
    uri = "file://" + p
    build_index(_docs(spark, [("a", "alpha beta")]), num_segments=2,
                analyzer="ws_lower").save(uri)
    flush_index_batch(_docs(spark, [("c", "gamma beta")]), 3, uri,
                      analyzer="ws_lower")
    idx = load_index(spark, uri)
    assert idx.analyzer == "ws_lower"
    assert idx.collection_stats() == (2, 4)
    assert idx.term_stats(["beta", "gamma"]) == {"beta": (2, 2),
                                                 "gamma": (1, 1)}
    with open(os.path.join(p, "index_meta.json")) as f:
        assert json.load(f)["analyzer"] == "ws_lower"


def test_flush_keeps_session_conf_and_releases_cache(spark, tmp_path,
                                                      pages):
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    sc = spark.sparkContext
    cached = set(sc._jsc.getPersistentRDDs().keys())
    flush_index_batch(pages, 0, str(tmp_path / "idx"), html_col="html")
    assert spark.conf.get(key) == mode
    assert set(sc._jsc.getPersistentRDDs().keys()) == cached


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_nrt_cycle_job_counts(spark, tmp_path, pages):
    sc = spark.sparkContext
    p = str(tmp_path / "idx")
    _jobs(sc, "nrt-first",
          lambda: flush_index_batch(pages.limit(10), 0, p, html_col="html"))
    last = max(sc.statusTracker().getJobIdsForGroup("nrt-first"))
    _, n = _jobs(sc, "nrt-flush",
                 lambda: flush_index_batch(pages, 1, p, html_col="html"))
    assert 0 < n <= FLUSH_JOBS
    # every job the flush launched, on any thread, carried its group
    assert max(sc.statusTracker().getJobIdsForGroup(None),
               default=-1) < last
    reader, n = _jobs(sc, "nrt-open", lambda: open_nrt_reader(spark, p))
    assert n == 0
    stats, n = _jobs(sc, "nrt-stats", reader.collection_stats)
    assert n == 1
    assert stats[0] == 50
