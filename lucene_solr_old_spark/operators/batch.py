"""Batch query execution: a whole query workload as ONE DataFrame query.

Per-query jobs pay Spark's scheduling floor (~0.5-2s) regardless of work;
the reference engine answers single queries in microseconds.  Where Spark
WINS is throughput: the workload is data — one term-pruned postings scan
fanned out to every query holding each term, one (qid, seg, docid)
aggregation, one per-qid top-k window — so the whole workload costs three
Spark jobs (scan and score up to one shuffle by qid, which the aggregate
and the window share; the docmeta broadcast for the doc keys; and the
result stage, sorted within partitions), and amortized per-query cost
drops by orders of magnitude.  The qid shuffle bounds skew by a query's
postings rows: all of one query's scored postings go to one task, where a
shuffle on (qid, seg, docid) spread them and gathered only its matched
documents.

This is search.py's BM25 core (:func:`~.search._scored_docs`, which also
runs every single query as a workload of one) behind the per-qid
``row_number`` collector (:func:`~.search._topk_per_qid`): SURVEY.md §3.3's
distributed query fan-out inverted — instead of one query fanned to N
shards, M queries share one pass, and the per-leaf top-k heap becomes a
window row_number per qid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .indexer import InvertedIndex
from .search import _parse, _scored_docs, _topk_per_qid

__all__ = ["batch_search"]


def batch_search(index: InvertedIndex, queries: list[tuple],
                 k: int = 10, precision: str = "float32") -> DataFrame:
    """queries: [(qid, query_text, mode)] with mode in {"OR", "AND"}.
    Returns (qid, rank, key, score): each qid's rows contiguous and
    rank-ordered, the qids not globally sorted."""
    docs = _scored_docs(index, _parse(index, queries), precision,
                        per_qid=True)
    return _topk_per_qid(docs, index, k, precision)
