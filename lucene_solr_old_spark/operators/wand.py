"""Block-max pruned top-k query kernel over the compressed index.

The scale-path scorer of search.py's BM25 core: the workload is parsed by
:func:`~.search._parse` and weighted by :class:`~.search._Scorer` exactly as
for the relational plan, then, per segment, a NumPy MaxScore/WAND-family
kernel runs every query of the workload over varbyte blocks (codec.py),
skipping blocks whose max-impact upper bound cannot lift any candidate
into the top-k.  The reference era has skip lists but NO score-bound
metadata (``Lucene41SkipWriter.java:120-151``); block-max pruning is the
north-star-mandated extension (BASELINE.json).

Plan shape (designed for 1000-executor scale):
  * `postings.filter(term IN workload terms)` — parquet predicate pushdown
    on the term column prunes row groups before any decode;
  * `groupBy(seg).applyInPandas(kernel)` — one small task per segment, no
    doc-level shuffle; only the workload's posting rows move;
  * the kernel cuts each (qid, seg) to its top k by (score DESC, docid
    ASC), and its rows are collected as they are: the driver merges each
    qid's segments by (score DESC, key ASC) with the index's resident doc
    keys (search.py's collectors; docids ascend with keys inside a
    segment, so the cut keeps every winner), in two Spark jobs, the
    kernel stage up to its shuffle by segment and the result.

Algorithm (disjunction): term-at-a-time MaxScore with block-max skipping —
terms ordered by upper bound descending; after the first term, a new doc is
admitted only if the remaining terms' summed bound can still reach the
current threshold θ (k-th best score so far), and a block is decoded only
if it intersects surviving candidates or its own bound + remaining bound
reaches θ.  Conjunction: leapfrog intersection in df-ascending order
(``ConjunctionScorer.java:47-57``) with block-range skipping.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .codec import decode_block
from .indexer import InvertedIndex
from .search import (_build, _no_docs, _parse, _plan, _Query, _ranked,
                     _Scorer, _sql_in, _topk_per_qid)

__all__ = ["wand_search", "batch_wand_search"]

_SAFETY = np.float32(1.0 + 1e-5)  # absorbs f32 rounding in bound comparisons


def _term_metas(term_rows, weights, mults) -> list[dict]:
    """Columnar views of each term's block metadata, with its weight and
    clause multiplicity."""
    metas = []
    for term, blocks in term_rows:
        metas.append({
            "term": term, "w": weights[term], "blocks": blocks,
            "mult": 1 if mults is None else mults.get(term, 1),
            "first": np.array([b["first_docid"] for b in blocks], np.int64),
            "last": np.array([b["last_docid"] for b in blocks], np.int64),
            "max_tf": np.array([b["max_tf"] for b in blocks], np.int64),
            "max_norm": np.array([b["max_norm"] for b in blocks], np.int64),
        })
    return metas


def _block_ub(meta, weight, cache: np.ndarray,
              mult: int = 1, dtype=np.float32) -> np.ndarray:
    mtf = meta["max_tf"].astype(dtype)
    ub = (weight * (mtf / (mtf + cache[meta["max_norm"]]))) * dtype(_SAFETY)
    return ub * dtype(mult) if mult != 1 else ub


def _decode_scores(blk, weight, cache, mult: int = 1, dtype=np.float32):
    # repeated clause: the partial is scaled AFTER rounding (s + s),
    # matching BooleanQuery's per-clause sum of identical TermScorer values
    d, f, nb = decode_block(blk)
    fv = f.astype(dtype)
    s = (weight * fv) / (fv + cache[nb])
    return d, (s * dtype(mult) if mult != 1 else s)


def _topk_threshold(scores: np.ndarray, k: int):
    if scores.size < k:
        return scores.dtype.type(-np.inf)
    return np.partition(scores, -k)[-k]


def _merge_acc(acc_d, acc_s, new_d, new_s, admit_new: bool):
    """Merge sorted accumulator with one block's postings."""
    pos = np.searchsorted(acc_d, new_d)
    pos_c = np.clip(pos, 0, acc_d.size - 1) if acc_d.size else pos
    hit = acc_d.size > 0
    is_hit = (acc_d[pos_c] == new_d) if hit else np.zeros(new_d.size, bool)
    if is_hit.any():
        acc_s[pos_c[is_hit]] += new_s[is_hit]
    if admit_new:
        miss = ~is_hit
        if miss.any():
            acc_d = np.concatenate([acc_d, new_d[miss]])
            acc_s = np.concatenate([acc_s, new_s[miss]])
            order = np.argsort(acc_d, kind="mergesort")
            acc_d = acc_d[order]
            acc_s = acc_s[order]
    return acc_d, acc_s


def _disjunctive_kernel(term_rows, weights, cache, k, mults=None,
                        dtype=np.float32):
    """term_rows: [(term, blocks)]; returns (docids, scores) top-k pool."""
    metas = _term_metas(term_rows, weights, mults)
    for m in metas:
        m["ub"] = (float(_block_ub(m, m["w"], cache, m["mult"],
                                   dtype).max()) if m["blocks"] else 0.0)
    metas.sort(key=lambda m: -m["ub"])
    tail_ub = np.cumsum([m["ub"] for m in metas][::-1])[::-1]  # incl. self

    acc_d = np.zeros(0, dtype=np.int64)
    acc_s = np.zeros(0, dtype=dtype)
    theta = dtype(-np.inf)
    for ti, m in enumerate(metas):
        rem_after = dtype(tail_ub[ti + 1] if ti + 1 < len(metas) else 0.0)
        admit_new = (dtype(m["ub"]) + rem_after) >= theta
        bubs = _block_ub(m, m["w"], cache, m["mult"], dtype)
        for bi, blk in enumerate(m["blocks"]):
            # skip: block can neither admit a new top-k doc nor touch an acc doc
            touches_acc = False
            if acc_d.size:
                lo = np.searchsorted(acc_d, m["first"][bi])
                touches_acc = lo < acc_d.size and acc_d[lo] <= m["last"][bi]
            if not touches_acc and (
                    not admit_new or (bubs[bi] + rem_after) < theta):
                continue
            d, s = _decode_scores(blk, m["w"], cache, m["mult"], dtype)
            acc_d, acc_s = _merge_acc(
                acc_d, acc_s, d, s,
                admit_new and (bubs[bi] + rem_after) >= theta)
        if acc_s.size >= k:
            theta = _topk_threshold(acc_s, k)
            # prune accumulator docs that can never reach theta
            if rem_after > 0:
                keep = (acc_s + rem_after) >= theta
                acc_d, acc_s = acc_d[keep], acc_s[keep]
    return acc_d, acc_s


def _conjunctive_kernel(term_rows, weights, cache, k, mults=None,
                        dtype=np.float32):
    """Leapfrog: intersect docid sets in df-ascending (cost) order, then sum
    scores over the survivors."""
    # decode lazily: smallest list first
    metas = _term_metas(term_rows, weights, mults)
    metas.sort(key=lambda m: sum(b["count"] for b in m["blocks"]))

    cand = None
    decoded = []
    for m in metas:
        ds, fs, ns = [], [], []
        for bi, blk in enumerate(m["blocks"]):
            if cand is not None and cand.size:
                # block-range skip against current candidates (leapfrog)
                lo = np.searchsorted(cand, m["first"][bi])
                if lo >= cand.size or cand[lo] > m["last"][bi]:
                    continue
            elif cand is not None:
                break
            d, f, nb = decode_block(blk)
            ds.append(d); fs.append(f); ns.append(nb)
        if not ds:
            return np.zeros(0, np.int64), np.zeros(0, dtype)
        d = np.concatenate(ds)
        f = np.concatenate(fs)
        nb = np.concatenate(ns)
        if cand is not None:
            keep = np.isin(d, cand, assume_unique=True)
            d, f, nb = d[keep], f[keep], nb[keep]
            if d.size == 0:
                return np.zeros(0, np.int64), np.zeros(0, dtype)
        cand = d
        decoded.append((m["w"], m["mult"], d, f, nb))

    scores = np.zeros(cand.size, dtype=dtype)
    for w, mult, d, f, nb in decoded:
        keep = np.isin(d, cand, assume_unique=True)
        fv = f[keep].astype(dtype)
        part = (w * fv) / (fv + cache[nb[keep]])
        scores += part * dtype(mult) if mult != 1 else part
    return cand, scores


def _kernel_docs(index: InvertedIndex, workload: list[_Query], k: int,
                 precision: str = "float32") -> DataFrame:
    """(qid, seg, docid, score): every query's per-segment top-k by
    (score DESC, docid ASC) from the block-max kernel, in ONE
    applyInPandas over the segments."""
    if "blocks" not in index.postings.columns:
        raise ValueError("the block-max kernel requires a compressed index "
                         "(indexer.compress_index)")
    if not workload:
        return _build(_no_docs(index, precision))
    terms = sorted({t for q in workload for t in q.mults})
    scorer = _Scorer(index, terms, precision)
    weights, cache, dtype = scorer.kernel_state()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["seg"].iloc[0])
        by_term = {r.term: list(r.blocks)
                   for r in pdf.itertuples(index=False)}
        qids = [np.zeros(0, np.int32)]
        docids = [np.zeros(0, np.int64)]
        scores = [np.zeros(0, dtype)]
        for q in workload:
            rows = [(t, by_term[t]) for t in q.mults if t in by_term]
            conj = q.need > 1  # the kernel runs AND (all clauses) or OR
            if not rows or (conj and len(rows) < len(q.mults)):
                continue  # some AND term is absent from this segment
            run = _conjunctive_kernel if conj else _disjunctive_kernel
            d, s = run(rows, weights, cache, k, q.mults, dtype)
            if d.size > k:
                # per-segment top-k (ties -> lower docid): by (-score, docid)
                order = np.lexsort((d, -s))[:k]
                d, s = d[order], s[order]
            qids.append(np.full(d.size, q.qid, np.int32))
            docids.append(d)
            scores.append(s)
        qid = np.concatenate(qids)
        return pd.DataFrame({
            "qid": qid,
            "seg": np.full(qid.size, seg, dtype=np.int32),
            "docid": np.concatenate(docids).astype(np.int32),
            "score": np.concatenate(scores).astype(dtype),
        })

    blocks = _plan(f"SELECT seg, term, blocks FROM {{postings}} "
                   f"WHERE {_sql_in('term', terms)}", postings=index.postings)
    return blocks.groupBy("seg").applyInPandas(
        kernel, schema=f"qid INT, seg INT, docid INT, score {scorer._sqltype}")


def wand_search(index: InvertedIndex, query_text: str, k: int = 10,
                mode: str = "OR", precision: str = "float32") -> DataFrame:
    """Top-k (key, score) via the block-max kernel. Requires a compressed
    index (indexer.compress_index).  The kernel runs when called, at most
    k x segments rows reach the driver, and the result is a local
    frame."""
    workload = _parse(index, [(0, query_text, mode)])
    return _ranked(index, _kernel_docs(index, workload, k, precision), k,
                   precision)


def batch_wand_search(index: InvertedIndex, queries: list[tuple],
                      k: int = 10) -> DataFrame:
    """Whole query workload through the block-max kernel in one query.

    queries: [(qid, query_text, mode)] with mode in {"OR", "AND"}.
    Returns (qid, rank, key, score): each qid's rows contiguous and
    rank-ordered, as a local frame.

    Plan: one term-pruned scan of the union of all query terms; ONE
    applyInPandas per segment runs every query's kernel against that
    segment's blocks (per-(qid, seg) top-k), and the driver merges each
    qid's segments — the per-query Spark scheduling floor is amortized
    across the workload like operators/batch.py, but with MaxScore block
    skipping instead of the relational aggregation, in two jobs: the
    kernel stage up to its shuffle by segment, and the result.  The
    workload runs when called, in chunks of at most ``search._TOPK_ROWS``
    driver rows (queries x segments x k)."""
    return _topk_per_qid(index, _parse(index, queries),
                         lambda chunk: _kernel_docs(index, chunk, k), k)
