"""Incremental (near-real-time) indexing via Structured Streaming.

The reference's NRT surface (SURVEY.md §2.9) re-expressed:

  * ``DirectoryReader.open(IndexWriter)`` / soft commit ->
    each micro-batch flushes new SEGMENTS (parquet appends); any reader
    loading the index afterwards sees them — snapshot semantics come from
    the storage layer (Iceberg snapshots in production; parquet dirs here);
  * transaction log / replay (``UpdateLog.java:779-812``) ->
    Structured Streaming's checkpoint dir replays the failed micro-batch
    (at-least-once); the flush itself is made idempotent per batch_id via
    dynamic partition overwrite, so replay achieves effective exactly-once;
  * ``CommitTracker`` auto-commit thresholds -> the stream trigger.

Each micro-batch builds ``segments_per_batch`` segments labeled
``batch_id * segments_per_batch + local`` — globally unique, so the
accumulated index is just the union of all flushed segments, and query
results are IDENTICAL to a one-shot batch build of the same rows: global
statistics are sums over the segments taken at read time (collection
stats from segstats, term df/ttf from each segment's postings rows), so
a flush adds its own segments and leaves nothing global to refresh.

Cost model of one flush -> reopen -> first query cycle:

  * flush (7 jobs): the doc-routing shuffle; one job that analyses the
    batch into the build's cache; a one-partition take over that cache
    as the emptiness test (the input itself is never re-read); then the
    postings, docmeta and segstats writes (the last is an aggregate, so
    two jobs) run concurrently off the cache, on driver threads that
    keep the caller's job group.  The cache is released afterwards.  The
    first flush into a fresh directory writes its ``index_meta.json``;
  * reopen (``open_nrt_reader``): no Spark job.  ``index_meta.json``
    fixes the stored tables' schemas, so nothing is inferred from
    Parquet footers, and the file listing runs on the driver;
  * first query: one job for collection stats (per-segment rows summed
    on the driver), one job reading the reader's whole term dictionary
    (the postings rows' term, df and ttf, summed on the driver and kept
    resident, so later queries seek none), then the query's collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.indexer import (InvertedIndex, _read_meta,
                                 _run_concurrently, _write_meta,
                                 build_index, load_index)

__all__ = ["start_incremental_indexer", "open_nrt_reader",
           "flush_index_batch"]


def _require_segdir_layout(index_path: str, meta: dict | None) -> None:
    """Appends write ``seg=`` partition directories of plain postings; a
    ``packed`` (bulk-ingest) index stores plain range files, and Spark
    cannot read a directory mixing both, while a compressed index stores
    ``blocks`` where a flush writes ``postings`` — so such a target must
    be rejected UP FRONT, not discovered as a corrupt read later
    (indexer.save docstring: packed is write-once)."""
    if meta is None:
        return  # fresh directory — this batch creates it as segdir
    layout = meta.get("layout", "segdir")
    if layout != "segdir":
        raise ValueError(
            f"index at {index_path!r} has layout={layout!r}; incremental "
            "appends require layout='segdir' (re-save the index with the "
            "default layout, or bulk-rebuild instead of appending)")
    if meta.get("compressed"):
        raise ValueError(
            f"index at {index_path!r} is compressed; incremental appends "
            "write plain postings, so append to the uncompressed index")


def flush_index_batch(batch_df: DataFrame, batch_id: int, index_path: str,
                      key_col: str = "url", text_col: str = "text",
                      html_col: str | None = None,
                      analyzer: str = "english",
                      segments_per_batch: int = 2) -> None:
    """Build and publish one micro-batch's segments — idempotent per
    batch_id (safe under foreachBatch's at-least-once replay).  An empty
    batch changes nothing."""
    spark = batch_df.sparkSession
    meta = _read_meta(spark, index_path)
    _require_segdir_layout(index_path, meta)
    idx = build_index(batch_df, key_col=key_col, text_col=text_col,
                      html_col=html_col, analyzer=analyzer,
                      num_segments=segments_per_batch)
    try:
        # the emptiness test fills the build's cache (a job over every
        # partition, then a one-partition take); the writes all read it
        if idx.docmeta.isEmpty():
            return
        base = batch_id * segments_per_batch
        seg = (F.col("seg") + base).cast("int")
        # IDEMPOTENT flush: foreachBatch is at-least-once (a crash between
        # the write and the streaming-checkpoint commit replays the batch),
        # so a blind append would duplicate the batch's segments.  Segment
        # ids are a pure function of batch_id, so dynamic partition
        # overwrite (replace exactly the seg= partitions this batch owns,
        # leave all others) makes the replay rewrite the same segments
        # instead of appending twins — the transaction-log replay
        # semantics of ``update/UpdateLog.java:779-812`` (replayed ops
        # overwrite, not duplicate).  segstats is written seg-partitioned
        # too so its rows are replaced by the same mechanism.  The mode is
        # a per-write option: the writes run concurrently, and a session
        # conf flip would leak into other threads' writes.
        def writer(table: str, df: DataFrame):
            return lambda: (
                df.withColumn("seg", seg).write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("seg")
                .parquet(os.path.join(index_path, table)))

        _run_concurrently(spark, writer("postings", idx.postings),
                          writer("docmeta", idx.docmeta),
                          writer("segstats", idx.segstats))
    finally:
        idx.unpersist()
    if meta is None:
        _write_meta(spark, index_path, idx._meta())


def start_incremental_indexer(
    stream_df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    key_col: str = "url",
    text_col: str = "text",
    html_col: str | None = None,
    analyzer: str = "english",
    segments_per_batch: int = 2,
    trigger_once: bool = True,
):
    """Attach a foreachBatch sink that publishes index segments per batch.
    Returns the StreamingQuery (caller awaits/stops)."""

    def flush_batch(batch_df: DataFrame, batch_id: int) -> None:
        flush_index_batch(batch_df, batch_id, index_path, key_col=key_col,
                          text_col=text_col, html_col=html_col,
                          analyzer=analyzer,
                          segments_per_batch=segments_per_batch)

    writer = (stream_df.writeStream
              .foreachBatch(flush_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def open_nrt_reader(spark: SparkSession, index_path: str,
                    analyzer: str | None = None,
                    with_positions: bool | None = None) -> InvertedIndex:
    """Point-in-time reader over whatever segments have been flushed —
    the SearcherManager.maybeRefresh analogue (re-open to see new docs).

    The analyzer and ``with_positions`` are the ones ``index_meta.json``
    records; an argument that contradicts them raises ``ValueError``.  A
    directory without a meta takes the arguments (by default the english
    analyzer, with positions)."""
    meta = _read_meta(spark, index_path)
    idx = load_index(spark, index_path)
    given = {"analyzer": analyzer, "with_positions": with_positions}
    for name, value in given.items():
        if value is None:
            continue
        if meta is None:
            setattr(idx, name, value)
        elif value != meta[name]:
            raise ValueError(f"{name}={value!r} contradicts the index's "
                             f"recorded {name}={meta[name]!r}")
    return idx
