"""Batch query execution: a whole query workload as ONE DataFrame query.

Per-query jobs pay Spark's scheduling floor (~0.5-2s) regardless of work;
the reference engine answers single queries in microseconds.  Where Spark
WINS is throughput: the workload is data — one term-pruned postings scan
fanned out to every query holding each term, one (qid, seg, docid)
aggregation, one per-(qid, seg) top-k window — so the whole workload costs
two Spark jobs (scan and score up to one shuffle by qid, which the
aggregate and the window share; and the result stage), and amortized
per-query cost drops by orders of magnitude.  The qid shuffle bounds skew
by a query's postings rows: all of one query's scored postings go to one
task, where a shuffle on (qid, seg, docid) spread them and gathered only
its matched documents.

This is search.py's BM25 core (:func:`~.search._scored_docs`, which also
runs every single query as a workload of one) behind the workload
collector (:func:`~.search._topk_per_qid`): SURVEY.md §3.3's distributed
query fan-out inverted — instead of one query fanned to N shards, M
queries share one pass; each (qid, seg) keeps its top k by docid, and the
driver merges each qid's segments by key, with the resident doc keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .indexer import InvertedIndex
from .search import _cut, _parse, _scored_docs, _topk_per_qid

__all__ = ["batch_search"]


def batch_search(index: InvertedIndex, queries: list[tuple],
                 k: int = 10, precision: str = "float32") -> DataFrame:
    """queries: [(qid, query_text, mode)] with mode in {"OR", "AND"}.
    Returns (qid, rank, key, score): each qid's rows contiguous and
    rank-ordered.  The workload runs when called, in chunks of at most
    ``search._TOPK_ROWS`` driver rows (queries x segments x k), and the
    result is a local frame."""
    return _topk_per_qid(
        index, _parse(index, queries),
        lambda chunk: _cut(_scored_docs(index, chunk, precision,
                                        per_qid=True),
                           "qid, seg", k, precision),
        k, precision)
