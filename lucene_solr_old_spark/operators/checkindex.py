"""Index integrity validation — the CheckIndex analogue
(``lucene/core/src/java/org/apache/lucene/index/CheckIndex.java``, 1940 LoC):
re-derive every stored statistic from the postings themselves and
cross-check, entirely as DataFrame aggregations (one pass per table).

Checks:
  * per-(seg, term): stored df == len(postings); stored ttf == sum(freq)
    (these rows are the only term statistics: global df/ttf are their
    sums, so checking them checks every term-statistics reader);
    docids strictly increasing; freqs >= 1; positions (if stored) sorted,
    len(positions) == freq
  * per-segment: docids dense 0..maxDoc-1; keys unique; docids ascend
    with keys (the top-k collectors cut each segment by docid and break
    score ties by key); segstats.max_doc == count(docmeta);
    segstats.sum_ttf == sum(doclen)
  * cross-table: every posting docid exists in docmeta; norm byte equals
    the quantization of the doc's stored doclen
  * compressed indexes: block metadata (first/last/count/max_tf/max_norm)
    agrees with a full decode (vectorized kernel pass)

Returns a dict of violation counts; all-zero == healthy index.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.smallfloat import doclen_to_norm
from .indexer import InvertedIndex

__all__ = ["validate_index"]


def _uncompressed_checks(index: InvertedIndex) -> dict[str, int]:
    p = index.postings
    out = {}
    exp = p.select(
        "seg", "term", "df", "ttf",
        F.size("postings").alias("n"),
        F.aggregate("postings", F.lit(0).cast("long"),
                    lambda acc, x: acc + x["freq"]).alias("sumf"),
        # docids strictly increasing <=> sorted & distinct
        F.transform("postings", lambda x: x["docid"]).alias("docids"),
        F.aggregate("postings", F.lit(0).cast("long"),
                    lambda acc, x: acc + F.when(x["freq"] >= 1, 0)
                    .otherwise(1)).alias("badfreq"),
    )
    agg = exp.select(
        F.sum(F.when(F.col("df") != F.col("n"), 1).otherwise(0)).alias("bad_df"),
        F.sum(F.when(F.col("ttf") != F.col("sumf"), 1).otherwise(0)).alias("bad_ttf"),
        F.sum(F.when(F.col("docids") != F.array_sort("docids"), 1)
              .otherwise(0)).alias("unsorted_docids"),
        F.sum(F.when(F.size(F.array_distinct("docids")) != F.size("docids"),
                     1).otherwise(0)).alias("dup_docids"),
        F.sum("badfreq").alias("bad_freq"),
    ).collect()[0]
    out.update({k: int(agg[k] or 0) for k in agg.asDict()})

    if index.with_positions:
        pos = p.select(F.explode("postings").alias("x")).select(
            F.sum(F.when(F.size("x.positions") != F.col("x.freq"), 1)
                  .otherwise(0)).alias("pos_count_mismatch"),
            F.sum(F.when(F.col("x.positions")
                         != F.array_sort("x.positions"), 1)
                  .otherwise(0)).alias("pos_unsorted"),
        ).collect()[0]
        out.update({k: int(pos[k] or 0) for k in pos.asDict()})

    if getattr(index, "with_offsets", False):
        # offsets invariants: one (start, end) per occurrence; starts
        # sorted; every end > its start (CheckIndex's offset checks)
        off = p.select(F.explode("postings").alias("x")).select(
            F.sum(F.when((F.size("x.starts") != F.col("x.freq"))
                         | (F.size("x.ends") != F.col("x.freq")), 1)
                  .otherwise(0)).alias("offset_count_mismatch"),
            F.sum(F.when(F.col("x.starts")
                         != F.array_sort("x.starts"), 1)
                  .otherwise(0)).alias("offsets_unsorted"),
            F.sum(F.when(F.exists(F.arrays_zip("x.starts", "x.ends"),
                                  lambda z: z["ends"] <= z["starts"]), 1)
                  .otherwise(0)).alias("offset_end_not_after_start"),
        ).collect()[0]
        out.update({k: int(off[k] or 0) for k in off.asDict()})

    # cross-table: posting docids ⊆ docmeta; norms consistent
    pd_ids = p.select("seg", F.explode("postings.docid").alias("docid")).distinct()
    orphan = pd_ids.join(index.docmeta.select("seg", "docid"),
                         ["seg", "docid"], "left_anti").count()
    out["orphan_posting_docids"] = int(orphan)
    return out


def _compressed_checks(index: InvertedIndex) -> dict[str, int]:
    import pandas as pd

    from .codec import decode_block

    def check_rows(batches):
        bad_meta = bad_monotone = 0
        for pdf in batches:
            for blocks, df in zip(pdf["blocks"], pdf["df"]):
                n = 0
                prev_last = -1
                for blk in blocks:
                    d, f, nb = decode_block(blk)
                    n += len(d)
                    ok = (blk["first_docid"] == d[0]
                          and blk["last_docid"] == d[-1]
                          and blk["count"] == len(d)
                          and blk["max_tf"] == int(f.max())
                          and blk["max_norm"] == int(nb.max()))
                    if not ok:
                        bad_meta += 1
                    if d[0] <= prev_last or (len(d) > 1 and (d[1:] <= d[:-1]).any()):
                        bad_monotone += 1
                    prev_last = int(d[-1])
                if n != df:
                    bad_meta += 1
        yield pd.DataFrame({"bad_meta": [bad_meta],
                            "bad_monotone": [bad_monotone]})

    res = (index.postings.select("df", "blocks")
           .mapInPandas(check_rows, schema="bad_meta LONG, bad_monotone LONG")
           .agg(F.sum("bad_meta"), F.sum("bad_monotone")).collect()[0])
    return {"block_meta_mismatch": int(res[0] or 0),
            "block_docids_not_monotone": int(res[1] or 0)}


def validate_index(index: InvertedIndex,
                   masked_deletes: bool = False) -> dict[str, int]:
    """``masked_deletes=True`` validates an index after
    ``delete_docs(..., keep_stats=True)`` — liveDocs-style masking where
    docid holes are legal and segstats still count deleted docs (the
    reference keeps pre-delete maxDoc/sumTotalTermFreq until merge):
    docids must stay unique and < max_doc, and segstats bounds become
    ``max_doc >= live count`` / ``sum_ttf >= sum(doclen)``."""
    out: dict[str, int] = {}
    if "blocks" in index.postings.columns:
        out.update(_compressed_checks(index))
    else:
        out.update(_uncompressed_checks(index))

    # docmeta invariants
    meta = index.docmeta
    seg_agg = meta.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.count_distinct("docid").alias("nd"),
        F.count_distinct("key").alias("nk"),
        F.min("docid").alias("mn"),
        F.max("docid").alias("mx"),
    )
    if masked_deletes:
        seg_agg = seg_agg.join(
            index.segstats.select("seg", F.col("max_doc").alias("_md")), "seg")
        dense_bad = (F.col("mn") < 0) | (F.col("mx") >= F.col("_md"))
    else:
        dense_bad = (F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)
    bad = seg_agg.select(
        F.sum(F.when((F.col("nd") != F.col("n"))
                     | (F.col("nk") != F.col("n")), 1).otherwise(0))
        .alias("dup_docs"),
        F.sum(F.when(dense_bad, 1).otherwise(0)).alias("non_dense_docids"),
    ).collect()[0]
    out["dup_docs"] = int(bad["dup_docs"] or 0)
    out["non_dense_docids"] = int(bad["non_dense_docids"] or 0)
    # a document whose key does not follow its docid predecessor's
    prev = F.lag("key").over(Window.partitionBy("seg").orderBy("docid"))
    out["keys_not_ascending"] = int(
        meta.select((F.col("key") <= prev).alias("bad"))
        .where("bad").count())

    # norm quantization consistency
    lens = [int(x) for x in range(0, 4097)]
    norm_map = {L: int(doclen_to_norm(L)) for L in lens}
    mapping = F.create_map(*[x for L, nb in norm_map.items()
                             for x in (F.lit(L), F.lit(nb))])
    bad_norm = meta.where(F.col("doclen") <= 4096).where(
        mapping[F.col("doclen")] != F.col("norm")).count()
    out["bad_norms"] = int(bad_norm)

    # segstats cross-check
    derived = meta.groupBy("seg").agg(
        F.count("*").alias("d_max_doc"), F.sum("doclen").alias("d_sum_ttf"))
    joined = index.segstats.join(derived, "seg", "full")
    if masked_deletes:
        stats_bad = ((F.col("max_doc") < F.col("d_max_doc"))
                     | (F.col("sum_ttf") < F.col("d_sum_ttf")))
    else:
        stats_bad = ((F.col("max_doc") != F.col("d_max_doc"))
                     | (F.col("sum_ttf") != F.col("d_sum_ttf")))
    out["bad_segstats"] = int(joined.where(stats_bad).count())

    return out
