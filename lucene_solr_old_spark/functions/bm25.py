"""BM25 scoring kernel, float32 bit-exact vs the reference.

Every operation mirrors ``lucene/core/src/java/org/apache/lucene/search/
similarities/BM25Similarity.java`` with the same precision and order:

  * ``idf = (float) Math.log(1 + (maxDoc - df + 0.5)/(df + 0.5))``   (:64-67)
    — inner arithmetic in float64, single cast to float32 at the end;
  * ``avgdl = (float)(sumTotalTermFreq / (double) maxDoc)``          (:79-89)
  * ``cache[i] = k1 * ((1 - b) + b * NORM_TABLE[i] / avgdl)``        (:206-210)
    — all float32, Java left-to-right evaluation: ((b*decode)/avgdl);
  * ``weightValue = boost * idf * (k1 + 1)``                         (:228)
  * ``score(doc, freq) = weightValue * freq / (freq + cache[norm])`` (:233-238)
    — float32 ops, left-to-right: (weightValue*freq)/(freq+norm);
  * no norms => behave as b = 0 (norm := k1)                         (:235-236)
  * multi-term (BooleanQuery SHOULD) score = plain float32 sum of the
    per-term scores (coord == 1 for BM25,
    ``similarities/Similarity.java:122-124``; ``BooleanQuery.java``).

Tie-break: equal scores rank by ascending doc order
(``search/TopScoreDocCollector.java:54-61``); our canonical doc order is
ascending ``url`` / doc key (SURVEY.md §7 P2).
"""

from __future__ import annotations

import math

import numpy as np

from .smallfloat import NORM_TABLE

__all__ = ["K1", "B", "idf", "avgdl", "bm25_cache", "score_tf", "Bm25Stats"]

K1 = np.float32(1.2)
B = np.float32(0.75)


def idf(df, max_doc) -> np.float32:
    """Float32 idf; df may be scalar or ndarray (float64 inner math)."""
    df64 = np.asarray(df, dtype=np.float64)
    out = np.log(1.0 + (float(max_doc) - df64 + 0.5) / (df64 + 0.5))
    return out.astype(np.float32) if out.ndim else np.float32(out)


def avgdl(sum_total_term_freq: int, max_doc: int) -> np.float32:
    if sum_total_term_freq <= 0:
        return np.float32(1.0)
    return np.float32(sum_total_term_freq / float(max_doc))


def bm25_cache(avg_dl: np.float32, k1: np.float32 = K1, b: np.float32 = B) -> np.ndarray:
    """256-entry freq-independent factor per norm byte (float32)."""
    one = np.float32(1.0)
    return (k1 * ((one - b) + (b * NORM_TABLE) / avg_dl)).astype(np.float32)


def score_tf(weight_value: np.float32, freq, norm_factor) -> np.ndarray:
    """``weightValue * freq / (freq + cache[normByte])`` in float32.

    ``freq`` int/float array; ``norm_factor`` = cache[norm byte] per doc.
    """
    f = np.asarray(freq, dtype=np.float32)
    nf = np.asarray(norm_factor, dtype=np.float32)
    return ((np.float32(weight_value) * f) / (f + nf)).astype(np.float32)


class Bm25Stats:
    """Per-(collection, field) scoring state — the SimWeight analogue."""

    def __init__(self, max_doc: int, sum_total_term_freq: int,
                 k1: float = 1.2, b: float = 0.75):
        self.max_doc = int(max_doc)
        self.sum_ttf = int(sum_total_term_freq)
        self.k1 = np.float32(k1)
        self.b = np.float32(b)
        self.avgdl = avgdl(self.sum_ttf, self.max_doc)
        self.cache = bm25_cache(self.avgdl, self.k1, self.b)
        self._wcache: dict[tuple[int, float], np.float32] = {}

    def idf(self, df) -> np.float32:
        return idf(df, self.max_doc)

    def weight_value(self, df, boost: float = 1.0) -> np.float32:
        """boost * idf(df) * (k1+1), memoized per (df, boost) for scalar df
        — the idf log dominates the per-call cost of driver-side scoring
        loops and repeats endlessly for the same document frequencies."""
        if isinstance(df, (int, np.integer)):
            key = (int(df), float(boost))
            hit = self._wcache.get(key)
            if hit is None:
                hit = np.float32(boost) * self.idf(df) * (self.k1 + np.float32(1.0))
                if len(self._wcache) < (1 << 20):
                    self._wcache[key] = hit
            return hit
        return np.float32(boost) * self.idf(df) * (self.k1 + np.float32(1.0))

    def score(self, df, freq, norm_bytes, boost: float = 1.0) -> np.ndarray:
        """Per-doc term scores: freq + norm byte arrays -> float32 scores."""
        if (isinstance(freq, np.ndarray) and freq.size == 1
                and np.size(norm_bytes) <= 1):
            # scalar fast path for driver-side per-doc loops (explain,
            # oracle scoring) that call with 1-element arrays: the same
            # float32 ops in the same order as score_tf — np.float32
            # scalar arithmetic is single-precision IEEE, so the result
            # is bit-identical — minus ~10 numpy array dispatches per
            # call.  Only when norm_bytes is scalar too: a 1-element freq
            # against n norm bytes broadcasts to n scores.
            nbv = norm_bytes[0] if np.ndim(norm_bytes) else norm_bytes
            f = np.float32(freq[0])
            nf = self.cache[int(nbv) & 0xFF]
            w = self.weight_value(df, boost)
            return np.array([(w * f) / (f + nf)], dtype=np.float32)
        nb = np.asarray(norm_bytes, dtype=np.int64) & 0xFF
        return score_tf(self.weight_value(df, boost), freq, self.cache[nb])
