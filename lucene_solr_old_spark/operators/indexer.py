"""Index build: documents DataFrame -> segmented inverted index DataFrames.

Spark-first restatement of the reference build pipeline (SURVEY.md §3.1):

  * partition == DocumentsWriterPerThread: hash ``repartition(n, key)`` +
    ``sortWithinPartitions(key)`` gives deterministic segment membership and
    a deterministic segment-local docID (= rank of key within segment) under
    ANY parallelism — the engine's substitute for Lucene's insertion-order
    docIDs (``index/DocumentsWriterPerThread.java``);
  * analysis AND inversion run in one ``mapInPandas`` stage per segment,
    which emits finished docID-sorted posting lists
    (``FreqProxTermsWriterPerField.java:100-239``'s in-memory postings), so
    the doc-routing repartition is the build's only shuffle;
  * per-segment stats (maxDoc, sumTotalTermFreq) == the term dict's
    FieldSummary (``codecs/BlockTreeTermsWriter.java:113-117``).

Posting lists embed each doc's norm byte so query-time scoring needs no
docmeta join (Lucene reads norms from a per-segment column during scoring;
we inline them — same data, join-free plan).
"""

from __future__ import annotations

import json
import logging
import os
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from .analysis import (FUSED_SCHEMA, FUSED_SCHEMA_OFFSETS,
                       make_fused_postings_partition)

__all__ = ["InvertedIndex", "build_index", "load_index"]

log = logging.getLogger(__name__)

# The most (seg, term) dictionary rows term_stats keeps resident on the
# driver: about 100 MB of Arrow buffers and NumPy arrays at the limit.  A
# larger dictionary is seeked term-pruned on every call.
_RESIDENT_TERM_ROWS = 1 << 20
# The most docmeta rows whose (seg, docid, key) doc_keys keeps resident on
# the driver, at about 100 bytes per key.  A larger index reads the keys
# of each call's documents from docmeta.
_RESIDENT_KEY_ROWS = 1 << 20


@dataclass
class InvertedIndex:
    """postings(seg, term, df, ttf, postings: array<struct<docid,freq,norm[,positions]>>)
    docmeta(seg, docid, key, doclen, norm)
    segstats(seg, max_doc, sum_ttf)

    The (seg, term, df, ttf) columns of postings are the per-segment term
    dictionaries and segstats the per-segment field summaries; every
    global statistic is their sum over the segments, taken at read time.
    Each index object reads them once and keeps the sums on the driver:
    the collection stats, and the term dictionary as sorted NumPy arrays
    when it has at most ``_RESIDENT_TERM_ROWS`` rows (:meth:`term_stats`).
    It keeps the doc keys too, per segment, when docmeta has at most
    ``_RESIDENT_KEY_ROWS`` rows (:meth:`doc_keys`).

    Inside every segment, docids ascend with keys: the top-k collectors
    cut each segment by docid and rank ties by key
    (``checkindex.validate_index`` checks the order).
    """

    postings: DataFrame
    docmeta: DataFrame
    segstats: DataFrame
    with_positions: bool = True
    analyzer: str = "english"
    with_offsets: bool = False
    # (maxDoc, sumTotalTermFreq, segments)
    _stats: tuple | None = field(default=None, repr=False)
    _terms_dict: DataFrame | None = field(default=None, repr=False)
    # the resident dictionary: (sorted terms, df, ttf) summed over the
    # segments; () when it is over _RESIDENT_TERM_ROWS, None until read
    _term_arrays: tuple | None = field(default=None, repr=False)
    # the resident keys: seg -> (ascending docids, their keys); () when
    # docmeta is over _RESIDENT_KEY_ROWS, None until read
    _key_arrays: dict | tuple | None = field(default=None, repr=False)
    # the build's persisted fused-stage output, released by unpersist()
    _fused: DataFrame | None = field(default=None, repr=False)

    def collection_stats(self) -> tuple[int, int]:
        """(maxDoc, sumTotalTermFreq) over the whole index — global exact
        stats (unlike per-shard Solr idf; SURVEY.md §3.3).  One tiny row
        per segment is summed driver-side: one stage, no exchange (the
        approach term_stats takes too)."""
        if self._stats is None:
            rows = self.segstats.select("max_doc", "sum_ttf").collect()
            self._stats = (sum(int(r["max_doc"]) for r in rows),
                           sum(int(r["sum_ttf"]) for r in rows), len(rows))
        return self._stats[:2]

    def num_segments(self) -> int:
        """The number of segments (read with :meth:`collection_stats`)."""
        self.collection_stats()
        return self._stats[2]

    def terms_dict(self) -> DataFrame:
        """(term, df, ttf) — the GLOBAL term dictionary, for multi-term
        expansions (fuzzy/wildcard/regexp/prefix/surround-trunc,
        spellcheck, suggesters, MLT).

        Each segment keeps its own dictionary: the (seg, term, df, ttf)
        rows of the postings table, as the reference writes one terms
        dictionary per segment (``codecs/BlockTreeTermsWriter.java``).
        This sums them over the segments once per index object and
        persists the result, so the expansions of one reader share a
        single (seg, term) -> term aggregation; :meth:`unpersist` releases
        it.  Nothing global is stored, so an appended segment is visible
        to the next reader by construction."""
        if self._terms_dict is None:
            self._terms_dict = (
                self.postings.groupBy("term")
                .agg(F.sum("df").cast("long").alias("df"),
                     F.sum("ttf").cast("long").alias("ttf"))
                .persist())
        return self._terms_dict

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """Global (df, ttf) per term, (0, 0) for a term the index lacks —
        the TermStatistics lookup (``search/TermStatistics.java``).  Like
        ``TermContext.build``, which sums docFreq over the segments, it
        sums each segment's (term, df, ttf) postings row.

        The first call reads those three columns of every postings row
        once, in one column-pruned Arrow job, and keeps their per-term
        sums resident as sorted NumPy arrays; every later seek is a
        ``searchsorted`` on the driver with no Spark job — the reference
        answers the same lookup from its RAM-resident terms index
        (``codecs/BlockTreeTermsReader.java``).  A dictionary of more
        than ``_RESIDENT_TERM_ROWS`` rows is not kept (logged once per
        index object): each call then reads just the query's terms, one
        term-pruned job summed on the driver."""
        terms = sorted(set(terms))
        if not terms:
            return {}
        if self._term_arrays is None:
            self._term_arrays = self._read_term_arrays()
        if not self._term_arrays:
            return self._seek_terms(terms)
        keys, df, ttf = self._term_arrays
        out = {}
        for t, i in zip(terms, np.searchsorted(keys, terms).tolist()):
            hit = i < len(keys) and keys[i] == t
            out[t] = (int(df[i]), int(ttf[i])) if hit else (0, 0)
        return out

    def _read_term_arrays(self) -> tuple:
        """(sorted terms, df, ttf) of the whole dictionary, or () when it
        has more than ``_RESIDENT_TERM_ROWS`` rows."""
        rows = (self.postings.select("term", "df", "ttf")
                .limit(_RESIDENT_TERM_ROWS + 1).toArrow())
        if rows.num_rows > _RESIDENT_TERM_ROWS:
            log.info("term dictionary over %d rows: term_stats seeks the "
                     "postings table per call", _RESIDENT_TERM_ROWS)
            return ()
        sums = (rows.group_by("term")
                .aggregate([("df", "sum"), ("ttf", "sum")]).sort_by("term"))
        # UTF-8 byte order is code point order: searchsorted's str order
        return (sums.column("term").to_numpy(zero_copy_only=False),
                sums.column("df_sum").to_numpy(),
                sums.column("ttf_sum").to_numpy())

    def read_resident(self) -> None:
        """Read whichever of the term dictionary and the doc keys is not
        resident yet, the two reads concurrently: a query needs both, the
        dictionary to weigh its terms and the keys to rank its hits."""
        reads = []
        if self._term_arrays is None:
            reads.append(lambda: setattr(self, "_term_arrays",
                                         self._read_term_arrays()))
        if self._key_arrays is None:
            reads.append(self._resident_keys)
        if len(reads) > 1:
            _run_concurrently(self.docmeta.sparkSession, *reads)
        elif reads:
            reads[0]()

    def doc_keys(self, segs: np.ndarray, docids: np.ndarray) -> np.ndarray:
        """The keys of the documents ``(segs[i], docids[i])``: the stored
        fields of the winners only, Solr's PURPOSE_GET_FIELDS round
        (SURVEY.md §3.3).  The first call reads docmeta's (seg, docid,
        key) columns once, in one column-pruned Arrow job, and keeps them
        resident per segment; over ``_RESIDENT_KEY_ROWS`` rows (logged
        once per index object), each call reads just these documents'
        keys, one seg- and docid-pruned job."""
        out = np.empty(len(segs), dtype=object)
        if not len(segs):
            return out
        arrays = self._resident_keys()
        if not isinstance(arrays, dict):
            arrays = self._seek_keys(segs, docids)
        for s in np.unique(segs).tolist():
            at = segs == s
            ids, keys = arrays[s]
            out[at] = keys[np.searchsorted(ids, docids[at])]
        return out

    def docid_bounds(self, key: str) -> dict[int, int]:
        """seg -> the greatest docid whose key is at most ``key``, for the
        segments holding such a document: as docids ascend with keys, a
        segment's documents after ``key`` are those past its bound."""
        arrays = self._resident_keys()
        if not isinstance(arrays, dict):
            return {int(r[0]): int(r[1]) for r in
                    self.docmeta.where(F.col("key") <= key)
                    .groupBy("seg").agg(F.max("docid")).collect()}
        out = {}
        for s, (ids, keys) in arrays.items():
            i = int(np.searchsorted(keys, key, side="right"))
            if i:
                out[s] = int(ids[i - 1])
        return out

    def _resident_keys(self) -> dict | tuple:
        """The resident keys, read on first use (() over the budget)."""
        if self._key_arrays is None:
            self._key_arrays = self._read_key_arrays()
        return self._key_arrays

    def _read_key_arrays(self) -> dict | tuple:
        """seg -> (docids, keys) of the whole docmeta, or () when it has
        more than ``_RESIDENT_KEY_ROWS`` rows."""
        rows = (self.docmeta.select("seg", "docid", "key")
                .limit(_RESIDENT_KEY_ROWS + 1).toArrow())
        if rows.num_rows > _RESIDENT_KEY_ROWS:
            log.info("docmeta over %d rows: doc_keys reads the keys of "
                     "each call's documents", _RESIDENT_KEY_ROWS)
            return ()
        return _key_map(rows)

    def _seek_keys(self, segs: np.ndarray, docids: np.ndarray) -> dict:
        """seg -> (docids, keys) of just the documents ``(segs[i],
        docids[i])``, from one docmeta read pruned to them."""
        pred = " OR ".join(
            f"(seg = {s} AND docid IN "
            f"({', '.join(map(str, np.unique(docids[segs == s]).tolist()))}))"
            for s in np.unique(segs).tolist())
        return _key_map(self.docmeta.where(pred)
                        .select("seg", "docid", "key").toArrow())

    def _seek_terms(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term_stats of ``terms`` from one term-pruned postings scan."""
        found = dict.fromkeys(terms, (0, 0))
        for r in (self.postings.where(F.col("term").isin(terms))
                  .select("term", "df", "ttf").collect()):
            df0, ttf0 = found[r["term"]]
            found[r["term"]] = (df0 + int(r["df"]), ttf0 + int(r["ttf"]))
        return found

    def persist(self) -> "InvertedIndex":
        self.postings = self.postings.persist()
        self.docmeta = self.docmeta.persist()
        self.segstats = self.segstats.persist()
        return self

    def unpersist(self) -> "InvertedIndex":
        """Release the build's fused-stage cache, the :meth:`terms_dict`
        aggregate and whatever :meth:`persist` cached."""
        for df in (self._fused, self._terms_dict, self.postings,
                   self.docmeta, self.segstats):
            if df is not None:
                df.unpersist()
        return self

    def save(self, path: str, mode: str = "overwrite",
             layout: str = "segdir") -> None:
        """Persist the index.

        ``layout="segdir"`` (default): postings/docmeta partitioned by
        seg into ``seg=N`` directories (the Iceberg-style 'segment =
        partition' model, SURVEY.md §1.1) — one-plus file per segment.
        This is the layout incremental appends require (dynamic
        partition overwrite replaces exactly the seg= dirs a batch owns,
        streaming/incremental.py:56).

        ``layout="packed"``: bulk-ingest layout — range-partitioned by
        (seg, term) and sorted within files, so file count tracks WRITE
        PARALLELISM instead of segment count and per-seg reads prune on
        parquet row-group min/max of the plain ``seg`` column.  Writing
        one-plus file per segment serializes on per-file create/flush
        latency — on one shared disk that is a constant term that caps
        measured build scaling (BASELINE.md r5 decomposition); a range
        file layout keeps the sink embarrassingly parallel while giant
        segments split across files instead of forcing one huge file.
        Do NOT mix layouts in one directory (Spark cannot read
        partition-dir and plain files together): packed indexes are for
        write-once bulk ingest (``route="none"``), segdir for indexes
        that take incremental appends.

        Three tables are written: postings, docmeta and segstats.  There
        is no separate term dictionary: every (seg, term) postings row
        carries that segment's df and ttf, and readers sum them over the
        segments (:meth:`term_stats`, :meth:`terms_dict`).  An append
        therefore only adds its own segments; nothing global goes stale.
        """
        if layout not in ("segdir", "packed"):
            raise ValueError("layout must be 'segdir' or 'packed'")
        if layout == "packed" and mode != "overwrite":
            # packed is write-once bulk ingest: an append would lay plain
            # coalesced files next to existing ones (duplicating postings
            # rows) — mirror the _require_segdir_layout guard on the
            # streaming side
            raise ValueError(
                "layout='packed' is write-once (bulk ingest); use "
                "mode='overwrite', or the default segdir layout for "
                "indexes that take appends")
        if layout == "packed":
            # coalesce, NOT repartition/repartitionByRange: range
            # partitioning runs a SAMPLING pass that re-evaluates the
            # whole postings aggregation (+10s on the 1.2M bulk
            # protocol), and a hash repartition adds what would be the
            # ONLY exchange in the zero-shuffle route="none" fused build.
            # coalesce merges existing partitions map-side — the sink
            # stays embarrassingly parallel and data moves zero times.
            # Packed postings trade the segdir layout's per-seg file
            # pruning for a parallel sink, which is the right trade for
            # write-once bulk ingest.
            # 2x slots per core: halves each writer's buffer footprint
            # and lets the scheduler rebalance around straggler
            # partitions and GC pauses; file count still tracks write
            # parallelism, not segment count.
            par = 2 * max(1, self.postings.sparkSession
                          .sparkContext.defaultParallelism)
            # Wave 1: the postings write ALONE.  It is the one heavy
            # pass, and running it first materializes the build cache as
            # a side effect — launching the sibling writes concurrently
            # with it would race the lazy cache population and duplicate
            # the fused-analysis work (concurrent tasks that miss a
            # still-computing cached partition recompute it).
            (self.postings.coalesce(par)
             .write.mode(mode).parquet(os.path.join(path, "postings")))
            # Wave 2: the remaining tables are independent warm-cache
            # scans — overlap their jobs on driver threads so neither
            # serializes behind the other's stragglers (the same overlap
            # a multi-sink cluster job gets for free).
            def _w_docmeta():
                (self.docmeta.coalesce(par)
                 .write.mode(mode).parquet(os.path.join(path, "docmeta")))

            def _w_segstats():
                self.segstats.write.mode(mode).parquet(
                    os.path.join(path, "segstats"))

            _run_concurrently(self.postings.sparkSession,
                              _w_docmeta, _w_segstats)
        else:
            self.postings.write.mode(mode).partitionBy("seg").parquet(
                os.path.join(path, "postings"))
            self.docmeta.write.mode(mode).partitionBy("seg").parquet(
                os.path.join(path, "docmeta"))
            # segstats comes from self.segstats in BOTH layouts (NOT
            # re-derived from the stored docmeta): keep_stats=True
            # delete-masked indexes carry intentionally-stale stats
            # (Lucene's deleted-doc over-counting, merge.py:249) that a
            # fresh aggregation would erase.  Seg-partitioned like the
            # streaming flush writes it: Spark reads only the seg= dirs of
            # a table that mixes them with plain files, so a flush into
            # this directory would otherwise hide these segments' stats.
            self.segstats.write.mode(mode).partitionBy("seg").parquet(
                os.path.join(path, "segstats"))
        _write_meta(self.postings.sparkSession, path, self._meta(layout))

    def _meta(self, layout: str = "segdir") -> dict:
        """The ``index_meta.json`` of this index: its analyzer and the
        flags that fix the stored tables' schemas (:func:`_stored_schemas`)."""
        return {"analyzer": self.analyzer,
                "with_positions": self.with_positions,
                "with_offsets": self.with_offsets,
                "layout": layout,
                "compressed": "blocks" in self.postings.columns}


def _key_map(rows) -> dict:
    """seg -> (ascending docids, their keys) of an Arrow (seg, docid, key)
    table."""
    seg = rows.column("seg").to_numpy()
    docid = rows.column("docid").to_numpy()
    order = np.lexsort((docid, seg))
    seg, docid = seg[order], docid[order]
    key = rows.column("key").to_numpy(zero_copy_only=False)[order]
    segs, starts = np.unique(seg, return_index=True)
    ends = [*starts[1:].tolist(), len(seg)]
    return {s: (docid[a:b], key[a:b])
            for s, a, b in zip(segs.tolist(), starts.tolist(), ends)}


def _run_concurrently(spark: SparkSession, *fns) -> None:
    """Run ``fns`` on driver threads and wait for all of them.  Each thread
    inherits the caller's local properties, so its jobs carry the caller's
    job group and description."""
    with ThreadPoolExecutor(max_workers=len(fns)) as ex:
        futs = [ex.submit(inheritable_thread_target(spark)(f)) for f in fns]
        for fu in futs:
            fu.result()


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path``, for any scheme Spark reads."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _read_meta(spark: SparkSession, path: str) -> dict | None:
    """The index's ``index_meta.json``, or None when it has none."""
    fs, p = _hadoop_path(spark, os.path.join(path, "index_meta.json"))
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    fs, p = _hadoop_path(spark, os.path.join(path, "index_meta.json"))
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        stream.close()


def _stored_schemas(meta: dict) -> dict[str, str] | None:
    """DDL schema of each stored table, derived from the meta flags and the
    build's own column types, so a read infers nothing (schema inference
    reads Parquet footers in a Spark job per table).  None for a meta
    written before the flags were all recorded."""
    if not {"with_positions", "with_offsets", "compressed"} <= meta.keys():
        return None
    from .codec import BLOCKS_SCHEMA

    ty = dict(c.split(" ", 1) for c in FUSED_SCHEMA_OFFSETS.split(", "))
    # posting struct field <- the fused stage's parallel array it zips
    fields = [("docid", "docids"), ("freq", "freqs"), ("norm", "norms")]
    if meta["with_positions"]:
        fields.append(("positions", "poss"))
    if meta["with_offsets"]:
        fields += [("starts", "starts"), ("ends", "ends")]
    struct = ", ".join(f"{f}: {ty[src][len('ARRAY<'):-1]}"
                       for f, src in fields)
    body = (f"blocks {BLOCKS_SCHEMA}" if meta["compressed"]
            else f"postings ARRAY<STRUCT<{struct}>>")
    seg = f"seg {ty['seg']}"
    cols = {
        "postings": f"term {ty['term']}, df {ty['df']}, ttf {ty['ttf']}, "
                    + body,
        "docmeta": ", ".join(f"{c} {ty[c]}"
                             for c in ("docid", "key", "doclen", "norm")),
        # count(*) and sum(int) aggregates
        "segstats": "max_doc BIGINT, sum_ttf BIGINT",
    }
    # a partition column reads back last; packed stores seg as a plain
    # first column
    if meta.get("layout", "segdir") == "packed":
        out = {t: f"{seg}, {c}" for t, c in cols.items()}
    else:
        out = {t: f"{c}, {seg}" for t, c in cols.items()}
    return out


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    """Open a saved or flushed index.  With a full ``index_meta.json`` the
    tables are read with derived schemas and the call runs no Spark job;
    an older directory falls back to Parquet schema inference."""
    meta = _read_meta(spark, path) or {"analyzer": "english",
                                       "with_positions": True}
    schemas = _stored_schemas(meta)

    def read(table: str) -> DataFrame:
        reader = spark.read
        if schemas is not None:
            reader = reader.schema(schemas[table])
        return reader.parquet(os.path.join(path, table))

    return InvertedIndex(
        postings=read("postings"),
        docmeta=read("docmeta"),
        segstats=read("segstats"),
        with_positions=meta["with_positions"],
        analyzer=meta["analyzer"],
        with_offsets=meta.get("with_offsets", False),
    )


def build_index(
    docs: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    num_segments: int = 8,
    with_positions: bool = True,
    salt_partitions: int = 0,
    html_col: str | None = None,
    analyzer: str = "english",
    persist_termdoc: bool = True,
    with_offsets: bool = False,
    route: str = "hash",
) -> InvertedIndex:
    """Build the inverted index.

    Plan shape — at most ONE shuffle:
      1. hash-repartition by doc key (deterministic for a fixed
         ``num_segments`` under any input parallelism — the murmur3 doc
         routing analogue) + sortWithinPartitions(key): segment membership
         and segment-local docID (= key rank) are reproducible;
      2. ONE fused Arrow stage per partition: [html->text] -> analyze ->
         FULL in-memory inversion -> finished docID-sorted posting lists
         (with per-occurrence char offsets when ``with_offsets``) +
         docmeta sentinel rows (analysis.make_fused_postings_partition).
         A (seg, term) posting list is complete partition-locally because
         the whole segment IS the partition — this is the
         DocumentsWriterPerThread RAM inversion, and it makes build data
         movement at most one exchange at any scale.

    One segment's postings must fit one Python worker's memory.  A segment
    too large for that is split into more units of work with the existing
    settings: more ``num_segments`` on the hash route, or more input
    partitions with ``route="none"``.  Query results do not depend on the
    segmentation (global stats).

    ``salt_partitions`` is deprecated and ignored (the build has no term
    shuffle to salt); a non-zero value warns.

    ``persist_termdoc`` caches the fused stage's output, so the postings
    and docmeta actions analyze the corpus once;
    :meth:`InvertedIndex.unpersist` releases it.

    ``route`` picks the doc->segment assignment:
      * ``"hash"`` (default) — one repartition by doc key: segment
        membership and docids are DETERMINISTIC under any input
        parallelism (the murmur3 doc-routing analogue; required for
        reproducible builds and key-addressed upserts).
      * ``"none"`` — ZERO-shuffle bulk ingest: segment = input partition
        (Lucene's DocumentsWriterPerThread assignment, no routing at all;
        ``index/DocumentsWriterFlushControl``), each partition sorted by
        key in place, so docid = key rank within the segment as on the
        hash route (the order the top-k collectors rely on).  Query
        results are IDENTICAL to any other segmentation (global stats);
        only the internal seg/docid labels differ, so use it when
        reproducible labels don't matter — the whole build then moves
        data zero times before the segment write.
    """
    if route not in ("hash", "none"):
        raise ValueError("route must be 'hash' or 'none'")
    if salt_partitions:
        warnings.warn("build_index(salt_partitions=...) is ignored: the "
                      "build has no term shuffle to salt",
                      DeprecationWarning, stacklevel=2)
    if html_col is not None:
        base = docs.select(F.col(key_col).alias("key"),
                           F.col(html_col).alias("text"))
        html_input = True
    else:
        base = docs.select(F.col(key_col).alias("key"),
                           F.col(text_col).alias("text"))
        html_input = False

    if route == "none":
        parted = (base.sortWithinPartitions("key")
                  .withColumn("seg", F.spark_partition_id()))
    else:
        parted = (
            base.repartition(num_segments, "key")
            .sortWithinPartitions("key")
            .withColumn("seg", F.spark_partition_id())
        )

    out = parted.mapInPandas(
        make_fused_postings_partition(
            "key", "text", with_positions=with_positions,
            analyzer=analyzer, html_input=html_input,
            with_offsets=with_offsets),
        schema=FUSED_SCHEMA_OFFSETS if with_offsets else FUSED_SCHEMA,
    )
    if persist_termdoc:
        out = out.persist()
    # reassemble struct arrays JVM-side from the parallel primitive
    # arrays (arrays_zip names struct fields after the aliases); the
    # merge/delete paths rebuild postings without the offsets
    zip_cols = [F.col("docids").alias("docid"),
                F.col("freqs").alias("freq"),
                F.col("norms").alias("norm")]
    if with_positions:
        zip_cols.append(F.col("poss").alias("positions"))
    if with_offsets:
        zip_cols += [F.col("starts"), F.col("ends")]
    postings = out.where(F.col("term").isNotNull()).select(
        "seg", "term", "df", "ttf",
        F.arrays_zip(*zip_cols).alias("postings"))
    docmeta = out.where(F.col("term").isNull()).select(
        "seg", "docid", "key", "doclen", "norm")
    segstats = docmeta.groupBy("seg").agg(
        F.count("*").alias("max_doc"),
        F.sum("doclen").alias("sum_ttf"),
    )
    return InvertedIndex(postings, docmeta, segstats, with_positions,
                         analyzer, with_offsets,
                         _fused=out if persist_termdoc else None)


def compress_index(index: InvertedIndex) -> InvertedIndex:
    """Encode posting arrays into varbyte blocks with skip/max-impact
    metadata (codec.py) — the persistent, query-kernel-ready layout.

    The heavy lifting stays columnar: posting structs are converted to
    parallel primitive arrays with Catalyst `transform`/`flatten` (Arrow
    hands the UDF NumPy arrays, not dicts), then a mapInPandas stage runs
    the vectorized encoder.  No shuffle — encoding is partition-local.
    """
    import pandas as pd

    from .codec import BLOCKS_SCHEMA, encode_blocks

    p = index.postings
    wp = index.with_positions
    cols = [
        F.col("seg"), F.col("term"), F.col("df"), F.col("ttf"),
        F.transform("postings", lambda x: x["docid"]).alias("docids"),
        F.transform("postings", lambda x: x["freq"]).alias("freqs"),
        F.transform("postings", lambda x: x["norm"]).alias("norms"),
    ]
    if wp:
        cols.append(F.flatten(
            F.transform("postings", lambda x: x["positions"])).alias("posflat"))
    arrays = p.select(*cols)

    out_schema = (f"seg INT, term STRING, df INT, ttf LONG, "
                  f"blocks {BLOCKS_SCHEMA}")

    def encode_rows(batches):
        for pdf in batches:
            blocks_col = []
            for i in range(len(pdf)):
                pos = pdf["posflat"].iloc[i] if wp else None
                blocks_col.append(encode_blocks(
                    pdf["docids"].iloc[i], pdf["freqs"].iloc[i],
                    pdf["norms"].iloc[i], pos))
            yield pd.DataFrame({
                "seg": pdf["seg"], "term": pdf["term"],
                "df": pdf["df"], "ttf": pdf["ttf"],
                "blocks": blocks_col,
            })

    compressed = arrays.mapInPandas(encode_rows, schema=out_schema)
    # (seg,term,df,ttf) and docmeta/segstats are unchanged by encoding —
    # carry the collection stats, the resident dictionary and keys, so the
    # compressed index doesn't re-read what the source index already read
    return InvertedIndex(compressed, index.docmeta, index.segstats,
                         index.with_positions, index.analyzer,
                         _stats=index._stats, _term_arrays=index._term_arrays,
                         _key_arrays=index._key_arrays)
