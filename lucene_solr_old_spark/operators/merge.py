"""Segment merging: tiered merge planning + the distributed merge job.

Planner re-derives TieredMergePolicy's algorithm
(``lucene/core/src/java/org/apache/lucene/index/TieredMergePolicy.java:268-409``):

  * segments sorted by (delete-discounted) size descending; over-large
    segments (>= maxMergedSegmentBytes/2) graced out;
  * allowed segment count from tier geometry: per level of ``segsPerTier``
    segments of ``levelSize`` (starting at the floored min segment size,
    multiplying by ``maxMergeAtOnce`` per tier);
  * when over budget, every window of <= maxMergeAtOnce consecutive
    (size-sorted) eligible segments is scored:
    ``skew * totAfterMergeBytes^0.05 * nonDelRatio^reclaimDeletesWeight``
    (:430-470); lowest score wins; repeat until within budget.

Defaults mirror the reference: maxMergeAtOnce=10, segsPerTier=10,
floor=2MB, maxMergedSegment=5GB, reclaimDeletesWeight=2
(``TieredMergePolicy.java:81-88``).

The merge job (``merge_many``; ``merge_segments`` and ``force_merge`` are
one-group calls of it) is the Spark restatement of
``SegmentMerger.merge()`` (``index/SegmentMerger.java:85-135``): deleted
docs dropped and the survivors renumbered densely (``MergeState.DocMap``),
here in key order within each target segment, posting lists regrouped in
the new docID order and per-term stats re-summed.  ``delete_docs`` shares
the explode -> regroup half of it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window, functions as F

from .indexer import InvertedIndex

__all__ = ["TieredMergePlanner", "SegmentMeta", "merge_segments",
           "delete_docs", "force_merge", "upsert_docs", "versioned_upsert",
           "merge_many"]


@dataclass
class SegmentMeta:
    seg: int
    size_bytes: int
    del_bytes: int = 0  # estimated bytes attributable to deleted docs

    @property
    def live_size(self) -> int:
        return max(0, self.size_bytes - self.del_bytes)


@dataclass
class TieredMergePlanner:
    max_merge_at_once: int = 10
    segs_per_tier: float = 10.0
    floor_segment_bytes: int = 2 * 1024 * 1024
    max_merged_segment_bytes: int = 5 * 1024 * 1024 * 1024
    reclaim_deletes_weight: float = 2.0

    def _floor(self, nbytes: float) -> float:
        return max(self.floor_segment_bytes, nbytes)

    def find_merges(self, segments: list[SegmentMeta]) -> list[list[int]]:
        """-> list of merges, each a list of seg ids (size-desc windows)."""
        if not segments:
            return []
        inf = sorted(segments, key=lambda s: -s.live_size)
        tot = sum(s.live_size for s in inf)
        too_big = 0
        while (too_big < len(inf)
               and inf[too_big].live_size >= self.max_merged_segment_bytes / 2.0):
            tot -= inf[too_big].live_size
            too_big += 1
        min_bytes = self._floor(min(s.live_size for s in inf))

        level_size = min_bytes
        bytes_left = float(tot)
        allowed = 0.0
        while True:
            level_count = bytes_left / level_size
            if level_count < self.segs_per_tier:
                allowed += -(-level_count // 1)  # ceil
                break
            allowed += self.segs_per_tier
            bytes_left -= self.segs_per_tier * level_size
            level_size *= self.max_merge_at_once
        allowed_int = int(allowed)

        picked: set[int] = set()
        merges: list[list[int]] = []
        while True:
            eligible = [s for s in inf[too_big:] if s.seg not in picked]
            if not eligible or len(eligible) < allowed_int:
                return merges
            best = None
            best_score = None
            # candidate windows start at 0..size-maxMergeAtOnce (reference
            # uses `startIdx <= eligible.size()-maxMergeAtOnce`)
            for start in range(0, max(0, len(eligible) - self.max_merge_at_once + 1)):
                cand: list[SegmentMeta] = []
                tot_after = 0
                hit_too_large = False
                for s in eligible[start:]:
                    if len(cand) >= self.max_merge_at_once:
                        break
                    if tot_after + s.live_size > self.max_merged_segment_bytes:
                        hit_too_large = True
                        continue  # keep packing smaller segments
                    cand.append(s)
                    tot_after += s.live_size
                if len(cand) < 2:
                    continue
                score = self._score(cand, hit_too_large)
                if best_score is None or score < best_score:
                    best, best_score = cand, score
            if not best:
                return merges
            merges.append([s.seg for s in best])
            picked.update(s.seg for s in best)

    def _score(self, cand: list[SegmentMeta], hit_too_large: bool) -> float:
        tot_after = sum(s.live_size for s in cand)
        tot_before = sum(s.size_bytes for s in cand)
        tot_floored = sum(self._floor(s.live_size) for s in cand)
        if hit_too_large:
            skew = 1.0 / self.max_merge_at_once
        else:
            skew = self._floor(cand[0].live_size) / tot_floored
        score = skew * (tot_after ** 0.05)
        non_del = tot_after / tot_before if tot_before else 1.0
        return score * (non_del ** self.reclaim_deletes_weight)


def _posting_fields(with_positions: bool) -> list[str]:
    """Fields of a rebuilt posting struct (offsets are not carried)."""
    return ["docid", "freq", "norm"] + (["positions"] if with_positions
                                        else [])


def _explode_postings(postings: DataFrame, fields: list[str]) -> DataFrame:
    """One row per posting: (seg, term, *fields)."""
    return (postings.select("seg", "term", F.explode("postings").alias("p"))
            .select("seg", "term",
                    *[F.col(f"p.{c}").alias(c) for c in fields]))


def _regroup_postings(rows: DataFrame, fields: list[str]) -> DataFrame:
    """Inverse of :func:`_explode_postings`: docID-sorted posting lists per
    (seg, term), with df/ttf re-summed."""
    return (rows.groupBy("seg", "term")
            .agg(F.count("*").cast("int").alias("df"),
                 F.sum("freq").cast("long").alias("ttf"),
                 F.sort_array(F.collect_list(F.struct(*fields)))
                 .alias("postings")))


def merge_segments(index: InvertedIndex, seg_ids: list[int],
                   target_seg: int,
                   deleted_keys: DataFrame | None = None) -> InvertedIndex:
    """Merge ``seg_ids`` into one segment ``target_seg``; optionally drop
    docs whose key appears in ``deleted_keys`` (a single-column 'key' frame
    — the BufferedDeletes application point, ``BufferedDeletesStream.java``).

    Returns a NEW InvertedIndex whose postings/docmeta have the merged
    segment replacing the sources (other segments pass through untouched).
    """
    return merge_many(index, [seg_ids], [target_seg], deleted_keys)


def delete_docs(index: InvertedIndex, deleted_keys: DataFrame,
                keep_stats: bool = False) -> InvertedIndex:
    """Buffered-delete application without merging: rebuild every affected
    segment's docmeta/postings minus the deleted keys (docids preserved —
    like liveDocs masking, holes allowed).

    ``keep_stats`` chooses between two documented stat semantics:

      * ``True`` — reference-faithful: ``CollectionStatistics.maxDoc`` /
        ``sumTotalTermFreq`` keep COUNTING DELETED DOCS until they are
        merged away (``search/CollectionStatistics.java``; norms/stats of
        masked docs survive in ``index/StandardDirectoryReader`` readers),
        so idf/avgdl — and scores — are unchanged by a delete-without-merge.
        ``validate_index(..., masked_deletes=True)`` accepts the resulting
        docid holes and over-counted segstats.
      * ``False`` (default) — exact stats recomputed from live docs only:
        scores match a fresh build of the surviving corpus (the behavior
        the engine's oracle gates certify).  Diverges from the reference
        after deletes-without-merge by design.
    """
    # the join puts "key" first; keep docmeta's own column order
    live_meta = (index.docmeta.join(deleted_keys, "key", "left_anti")
                 .select(*index.docmeta.columns))
    live_ids = live_meta.select("seg", "docid")
    wp = index.with_positions
    fields = _posting_fields(wp)
    kept = _explode_postings(index.postings, fields).join(
        live_ids, ["seg", "docid"], "left_semi")
    new_posts = _regroup_postings(kept, fields)
    if keep_stats:
        new_stats = index.segstats
    else:
        new_stats = live_meta.groupBy("seg").agg(
            F.count("*").alias("max_doc"), F.sum("doclen").alias("sum_ttf"))
    return InvertedIndex(new_posts, live_meta, new_stats, wp, index.analyzer)


def force_merge(index: InvertedIndex,
                deleted_keys: DataFrame | None = None) -> InvertedIndex:
    """forceMerge(1) — collapse everything into segment 0
    (``IndexWriter.forceMerge``)."""
    segs = [r["seg"] for r in index.segstats.select("seg").collect()]
    return merge_segments(index, segs, 0, deleted_keys)


def upsert_docs(index: InvertedIndex, new_docs, key_col: str = "url",
                text_col: str = "text", html_col: str | None = None,
                next_seg: int | None = None) -> InvertedIndex:
    """updateDocument semantics (``IndexWriter.updateDocument`` = atomic
    delete-by-key + add; Solr's versioned upsert,
    ``DistributedUpdateProcessor.versionAdd``): rows in ``new_docs`` replace
    any existing docs with the same key, landing as fresh segments.

    The delete applies lazily through `delete_docs` (liveDocs-style masking
    of the old segments); the adds build new segments numbered from
    ``next_seg`` (default: max existing + 1).
    """
    from .indexer import build_index

    if next_seg is None:
        row = index.segstats.agg(F.max("seg")).collect()[0]
        next_seg = int(row[0] or -1) + 1
    keys = new_docs.select(F.col(key_col).alias("key")).distinct()
    pruned = delete_docs(index, keys)
    added = build_index(new_docs, key_col=key_col, text_col=text_col,
                        html_col=html_col, num_segments=2,
                        analyzer=index.analyzer,
                        with_positions=index.with_positions)
    shift = F.col("seg") + next_seg
    return InvertedIndex(
        pruned.postings.unionByName(
            added.postings.withColumn("seg", shift.cast("int"))),
        pruned.docmeta.unionByName(
            added.docmeta.withColumn("seg", shift.cast("int"))),
        pruned.segstats.unionByName(
            added.segstats.withColumn("seg", shift.cast("int"))),
        index.with_positions, index.analyzer, _fused=added._fused)


def versioned_upsert(index: InvertedIndex, versions: DataFrame,
                     new_docs: DataFrame, key_col: str = "url",
                     text_col: str = "text", version_col: str = "warc_ts",
                     html_col: str | None = None,
                     next_seg: int | None = None
                     ) -> tuple[InvertedIndex, DataFrame]:
    """Optimistic-concurrency upsert — Solr's ``_version_`` guard
    (``solr/core/.../processor/DistributedUpdateProcessor.java:568-598``
    ``versionAdd``: an incoming doc is applied only when its version is
    GREATER than the stored version for the same key; a stale update is
    rejected).

    ``versions`` is the engine's update-log analogue (``update/UpdateLog``
    keeps ``_version_`` per key): a (key, version) DataFrame describing the
    live index.  Returns ``(new_index, new_versions)``; the caller persists
    ``new_versions`` alongside the index.

    Semantics applied distributively:
      * within the incoming batch, the highest-version row per key wins
        (later internal versions supersede earlier — leader re-order);
      * a winner is applied iff no stored version for its key is >= it;
      * surviving rows flow through :func:`upsert_docs` (delete-by-key +
        fresh segments).
    """
    incoming = new_docs.select(
        F.col(key_col).alias("key"),
        F.col(version_col).cast("long").alias("version"),
        *[c for c in new_docs.columns if c not in (key_col, version_col)])
    w = Window.partitionBy("key").orderBy(F.desc("version"))
    batch_best = (incoming.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1).drop("_rn"))
    cur = versions.select(F.col("key"),
                          F.col("version").cast("long").alias("_cur_v"))
    winners = (batch_best.join(cur, "key", "left")
               .where(F.col("_cur_v").isNull()
                      | (F.col("version") > F.col("_cur_v")))
               .drop("_cur_v"))
    applied = winners.select(
        F.col("key").alias(key_col),
        F.col(text_col),
        *([F.col(html_col)] if html_col else []),
        F.col("version").alias(version_col))
    new_index = upsert_docs(index, applied, key_col=key_col,
                            text_col=text_col, html_col=html_col,
                            next_seg=next_seg)
    new_versions = (cur.withColumnRenamed("_cur_v", "version")
                    .join(winners.select("key"), "key", "left_anti")
                    .unionByName(winners.select("key", "version")))
    return new_index, new_versions


def merge_many(index: InvertedIndex, merges: list[list[int]],
               target_segs: list[int] | None = None,
               deleted_keys: DataFrame | None = None) -> InvertedIndex:
    """Execute ALL planned merges in ONE DataFrame job — the
    ConcurrentMergeScheduler analogue (``index/ConcurrentMergeScheduler
    .java`` runs disjoint merges on background threads; on Spark the same
    disjointness lets every merge share a single scan/renumber/aggregate
    pass, so a whole TieredMergePolicy round costs one job instead of one
    per merge).

    ``merges``: disjoint segment-id groups (e.g. ``TieredMergePlanner.
    find_merges`` output).  ``target_segs`` defaults to each group's min
    id.  Docids renumber densely per TARGET segment in key order: the
    new docid is the surviving document's key rank within its target
    (one ``row_number`` window over the sources' (seg, docid, key) rows),
    so a merged segment keeps the order of a freshly built one, where
    docids ascend with keys and the top-k collectors' per-segment cut
    breaks score ties by key.  ``index/MergeState.java``'s DocMap
    instead concatenates the readers by doc base, which only keeps that
    order when the sources' key ranges do not interleave.
    """
    if not merges:
        return index
    flat = [s for m in merges for s in m]
    if len(set(flat)) != len(flat):
        raise ValueError("merge groups must be disjoint")
    if target_segs is None:
        target_segs = [min(m) for m in merges]
    seg_to_tgt = {s: t for m, t in zip(merges, target_segs) for s in m}
    wp = index.with_positions
    in_merge = F.col("seg").isin(flat)
    tgt_col = F.create_map(*[x for s, t in seg_to_tgt.items()
                             for x in (F.lit(s), F.lit(t))])

    src_meta = index.docmeta.where(in_merge)
    if deleted_keys is not None:
        src_meta = src_meta.join(deleted_keys, "key", "left_anti")
    tseg = tgt_col[F.col("seg")].cast("int")
    renumbered = src_meta.select(
        "*", tseg.alias("tseg"),
        (F.row_number().over(Window.partitionBy(tseg).orderBy("key")) - 1)
        .cast("int").alias("new_docid"))
    docmap = renumbered.select("seg", "docid", "tseg", "new_docid")
    new_meta = renumbered.select(F.col("tseg").alias("seg"),
                                 F.col("new_docid").alias("docid"),
                                 "key", "doclen", "norm")

    fields = _posting_fields(wp)
    remapped = (_explode_postings(index.postings.where(in_merge), fields)
                .join(docmap, ["seg", "docid"])
                .drop("seg", "docid")
                .withColumnRenamed("tseg", "seg")
                .withColumnRenamed("new_docid", "docid"))
    new_posts = _regroup_postings(remapped, fields)
    new_stats = new_meta.groupBy("seg").agg(
        F.count("*").alias("max_doc"), F.sum("doclen").alias("sum_ttf"))

    keep = ~in_merge
    return InvertedIndex(
        postings=index.postings.where(keep).unionByName(new_posts),
        docmeta=index.docmeta.where(keep).unionByName(new_meta),
        segstats=index.segstats.where(keep).unionByName(new_stats),
        with_positions=wp,
        analyzer=index.analyzer,
    )
