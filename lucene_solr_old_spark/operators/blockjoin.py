"""Block join: parent/child document relations.

The reference indexes parent+child docs as a contiguous block
(``IndexWriter.addDocuments``) and joins at query time by walking the
parent bitset (``lucene/join/src/java/org/apache/lucene/search/join/
ToParentBlockJoinQuery.java:225-360``; ``ToChildBlockJoinQuery.java``).
The Spark-native restatement replaces block contiguity with an explicit
child->parent key relation (a DataFrame — at 100 TB this is the natural
representation anyway: contiguity is a single-writer artifact, a relation
column co-partitions), and the per-block score aggregation with a
groupBy over the child score frame:

  * ScoreMode.Total -> sum(child score)     (:358)
  * ScoreMode.Max   -> max(child score)     (:354-356)
  * ScoreMode.Avg   -> sum/childCount       (:352)
  * ScoreMode.None  -> match only, score 0  (:259)

Scale notes: the child score frame is already term-pruned; the relation
join shuffles only (child_key, score) pairs; the parent aggregation is
map-side combinable for Total/Max.  No driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .indexer import InvertedIndex
from .search import _qterms, _term_set_docs, _with_keys, search_terms

__all__ = ["to_parent_join", "to_child_join"]

_MODES = ("total", "max", "avg", "none")


def _child_scores(index: InvertedIndex, child_query: str,
                  precision: str) -> DataFrame:
    """(key, score) for every child matching the analyzed OR query —
    the childScorer iteration, unsorted."""
    from ..functions.tokenizer import get_analyzer

    terms = [t.term for t in get_analyzer(index.analyzer)(child_query)]
    per_doc = _term_set_docs(index, terms, precision)
    return _with_keys(per_doc, index).select("key", "score")


def to_parent_join(index: InvertedIndex, child_query: str,
                   relation: DataFrame, score_mode: str = "avg",
                   k: int = 10, parent_filter: DataFrame | None = None,
                   precision: str = "float32") -> DataFrame:
    """ToParentBlockJoinQuery: rank parents by their matching children.

    ``relation``: (child_key, parent_key) DataFrame (the addDocuments
    block structure as a relation).  ``parent_filter``: optional
    single-column ``parent_key`` frame (the parentsFilter bitset).
    Returns top-k (parent_key, score, n_children).
    """
    mode = score_mode.lower()
    if mode not in _MODES:
        raise ValueError(f"score_mode must be one of {_MODES}")
    stype = "double" if precision == "float64" else "float"
    child = _child_scores(index, child_query, precision)
    joined = child.join(relation.select(F.col("child_key").alias("key"),
                                        "parent_key"), "key")
    agg = joined.groupBy("parent_key").agg(
        F.sum("score").alias("_total"),
        F.max("score").alias("_max"),
        F.count("*").alias("n_children"),
    )
    if mode == "total":
        scored = agg.withColumn("score", F.col("_total").cast(stype))
    elif mode == "max":
        scored = agg.withColumn("score", F.col("_max").cast(stype))
    elif mode == "avg":
        scored = agg.withColumn(
            "score", (F.col("_total") / F.col("n_children")).cast(stype))
    else:  # none
        scored = agg.withColumn("score", F.lit(0.0).cast(stype))
    if parent_filter is not None:
        scored = scored.join(F.broadcast(parent_filter.select("parent_key")),
                             "parent_key", "left_semi")
    order = ([F.desc("score"), F.asc("parent_key")] if mode != "none"
             else [F.asc("parent_key")])
    return (scored.select("parent_key", "score", "n_children")
            .orderBy(*order).limit(k))


def to_child_join(index: InvertedIndex, parent_query_keys: DataFrame,
                  relation: DataFrame, k: int = 100) -> DataFrame:
    """ToChildBlockJoinQuery: propagate a parent match set to its children
    (``ToChildBlockJoinQuery.java``: every child of a matching parent
    matches, carrying the parent's score).

    ``parent_query_keys``: (parent_key, score) — the parent-side hits
    (e.g. the output of a parent-field query or of to_parent_join).
    Returns (child_key, parent_key, score) ordered by (score desc, child).
    """
    out = (relation.join(F.broadcast(parent_query_keys), "parent_key")
           .select("child_key", "parent_key", "score"))
    return out.orderBy(F.desc("score"), F.asc("child_key")).limit(k)


def search_children_of(index: InvertedIndex, parent_query: str,
                       child_query: str, relation: DataFrame,
                       k: int = 10,
                       precision: str = "float32") -> DataFrame:
    """Nested pattern: children matching child_query whose PARENT matches
    parent_query (the classic e-commerce sku-within-product filter) —
    child score, parent existence as a semi-join."""
    parent_hits = search_terms(index, parent_query, "OR", k=1 << 30,
                               precision=precision) \
        .select(F.col("key").alias("parent_child_key"))
    # parents are identified by their own doc keys in the same index;
    # relation maps child docs to parent doc keys
    child = _child_scores(index, child_query, precision)
    joined = (child.join(relation.select(F.col("child_key").alias("key"),
                                         "parent_key"), "key")
              .join(parent_hits,
                    F.col("parent_key") == F.col("parent_child_key"),
                    "left_semi"))
    return (joined.select(F.col("key").alias("child_key"), "parent_key",
                          "score")
            .orderBy(F.desc("score"), F.asc("child_key")).limit(k))


def join_util_search(index: InvertedIndex, from_query: str,
                     from_dims: DataFrame, from_field: str,
                     to_docs: DataFrame, to_field: str,
                     mode: str = "avg", k: int = 10,
                     key_col: str = "key",
                     precision: str = "float32") -> DataFrame:
    """Query-time join, ``lucene/join/.../JoinUtil.createJoinQuery`` with
    its four ScoreModes (``TermsWithScoreCollector.java``): run
    ``from_query`` on the from side, collect each matching doc's
    ``from_field`` value, aggregate the scores PER JOIN TERM —

      ``none`` -> 1.0, ``avg`` -> mean, ``max`` -> max, ``total`` -> sum

    — then every to-doc whose ``to_field`` equals a collected term scores
    that term's aggregate.  Returns top-k (to_key, score), (score desc,
    key asc).

    Scale shape: the per-term aggregate is |matching from-docs| reduced to
    |distinct join terms| rows — almost always a broadcastable frame — so
    the to-side never shuffles: scan -> broadcast-hash-join -> top-k."""
    from pyspark.sql import functions as F

    stype = "double" if precision == "float64" else "float"
    per_doc = _term_set_docs(index, _qterms(index, from_query), precision)
    with_field = (_with_keys(per_doc, index).withColumnRenamed("score", "s")
                  .join(from_dims.withColumnRenamed(from_field, "_jterm"),
                        "key"))
    if mode == "none":
        agg = (with_field.select("_jterm").distinct()
               .withColumn("jscore", F.lit(1.0).cast(stype)))
    elif mode == "avg":
        agg = with_field.groupBy("_jterm").agg(
            F.avg("s").cast(stype).alias("jscore"))
    elif mode == "max":
        agg = with_field.groupBy("_jterm").agg(
            F.max("s").cast(stype).alias("jscore"))
    elif mode == "total":
        agg = with_field.groupBy("_jterm").agg(
            F.sum("s").cast(stype).alias("jscore"))
    else:
        raise ValueError(f"unknown score mode {mode!r}")
    out = to_docs.join(
        F.broadcast(agg),
        to_docs[to_field] == agg["_jterm"])
    return (out.select(F.col(key_col).alias("to_key"),
                       F.col("jscore").alias("score"))
            .orderBy(F.desc("score"), F.asc("to_key"))
            .limit(k))
