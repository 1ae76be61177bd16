"""The term similarities besides BM25 (``search/similarities/``):
ClassicSimilarity (TF-IDF), SweetSpotSimilarity, LM-Dirichlet, DFR G-L-H2
and IB SPL-DF-H2.

Each is one similarity object plugged into search.py's term scorer,
:func:`~.search._scored_docs`, exactly as BM25 is: ``weights`` gives the
weight of each (query, term) on the driver from the term's df/ttf, the
collection stats, the query's clauses and its boost; ``score`` gives the
per-posting score SQL expression of (weight, freq, norm byte); ``coord`` (the
Classic family) multiplies a document's score by matched / total clauses.
The term-pruned postings scan, the per-document aggregate, AND's
``nmatched >= need`` filter and the top-k collector are BM25's, so every
entry point here is a similarity plus ``_topk(_single(...))``.  A
repeated query term is a repeated clause, scored once per clause.

Norms: ClassicSimilarity decodes the norm byte (byte315 of
``1/sqrt(doclen)``, shared with BM25); the SimilarityBase models
(LM, DFR, IB) decode it to the quantized doc length, LQ64.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from ..functions.smallfloat import byte315_to_float
from .indexer import InvertedIndex
from .search import (LQ64, _mults, _plan, _Query, _scored_docs, _Scorer,
                     _single, _stype, _topk)

__all__ = ["search_tfidf", "tfidf_score_frame", "search_lmdirichlet",
           "search_dfr_gl2", "search_ib_spl"]

# decoded norm per byte — DefaultSimilarity.NORM_TABLE (:95-97)
_NORM_TABLE = [float(byte315_to_float(b)) for b in range(256)]


class _Classic:
    """ClassicSimilarity (``DefaultSimilarity.java`` +
    ``TFIDFSimilarity.java``):

      score(q, d) = coord(q, d) * sum_clauses tf(freq) * idf(t)^2 * boost
                    * queryNorm(q) * norm(d)

      tf(freq)   = sqrt(freq)                       (:120-122)
      idf(t)     = ln(maxDoc / (df + 1)) + 1        (:138-140)
      queryNorm  = 1 / sqrt(sum_clauses (idf*boost)^2)  (:67-69;
                   BooleanWeight.sumOfSquaredWeights, once per clause)
      coord      = overlap / maxOverlap             (:61-63)
      norm(d)    = byte315 decode of 1/sqrt(numTerms)  (:87-115)
    """
    coord = True
    norms = _NORM_TABLE

    def weights(self, sc: _Scorer, mults: dict[str, int],
                boost: float) -> dict[str, float]:
        idf = {t: math.log(sc.stats.max_doc / (sc.df(t) + 1.0)) + 1.0
               for t in mults}
        ssw = sum(m * (idf[t] * boost) ** 2 for t, m in mults.items())
        query_norm = 1.0 / math.sqrt(ssw) if ssw > 0 else 0.0
        return {t: idf[t] * idf[t] * boost * query_norm for t in mults}

    def tf(self, sc: _Scorer, freq: str) -> str:
        return f"sqrt({freq})"

    def score(self, sc: _Scorer, w: str, freq: str, norm: str) -> str:
        return (f"(({self.tf(sc, freq)} * {w}) * "
                f"{sc.per_norm(self.norms, norm)})")


class _SweetSpot(_Classic):
    """SweetSpotSimilarity: ClassicSimilarity with a configurable tf and
    a plateaued length norm over the quantized doc length (LQ64) in place
    of the norm-byte decode."""

    def __init__(self, tf_base, tf_min, ln_min, ln_max, ln_steep, tf_mode,
                 hyper_min, hyper_max, hyper_base, hyper_xoffset):
        self.tf_base, self.tf_min, self.tf_mode = tf_base, tf_min, tf_mode
        self.hyper = (hyper_min, hyper_max, hyper_base, hyper_xoffset)
        self.norms = [1.0 / math.sqrt(
            ln_steep * (abs(dl - ln_min) + abs(dl - ln_max)
                        - (ln_max - ln_min)) + 1.0) for dl in LQ64]

    def tf(self, sc: _Scorer, freq: str) -> str:
        lit = sc.lit
        if self.tf_mode == "baseline":
            tf = (f"CASE WHEN ({freq} <= {lit(self.tf_min)}) "
                  f"THEN {lit(self.tf_base)} ELSE sqrt(({freq} + "
                  f"{lit(self.tf_base * self.tf_base - self.tf_min)})) END")
        elif self.tf_mode == "hyperbolic":
            lo, hi, base, xoffset = self.hyper
            x = f"({freq} - {lit(xoffset)})"
            bx = f"power({lit(base)}, {x})"
            bnx = f"power({lit(base)}, (- {x}))"
            tf = (f"({lit(lo)} + ({lit((hi - lo) / 2.0)} * "
                  f"((({bx} - {bnx}) / ({bx} + {bnx})) + {lit(1.0)})))")
        else:
            raise ValueError(f"unknown tf_mode {self.tf_mode!r}")
        return f"CASE WHEN ({freq} = 0) THEN {lit(0.0)} ELSE {tf} END"


def _h2(sc: _Scorer, c: float, freq: str, norm: str) -> str:
    """NormalizationH2: tfn = freq * log2(1 + c * avgFieldLength / dl)."""
    max_doc, sum_ttf = sc.stats.max_doc, sc.stats.sum_ttf
    avg_fl = sum_ttf / max_doc if max_doc else 1.0
    return (f"({freq} * log2(({sc.lit(1.0)} + ({sc.lit(c * avg_fl)} / "
            f"{sc.per_norm(LQ64, norm)}))))")


class _LMDirichlet:
    coord = False

    def __init__(self, mu: float):
        self.mu = mu

    def weights(self, sc, mults, boost):
        # p(t|C), LMSimilarity.DefaultCollectionModel:153-155
        return {t: (sc.ttf(t) + 1.0) / (sc.stats.sum_ttf + 1.0)
                for t in mults}

    def score(self, sc, w, freq, norm):
        mu = sc.lit(self.mu)
        raw = (f"(ln(({sc.lit(1.0)} + ({freq} / ({mu} * {w})))) + "
               f"ln(({mu} / ({sc.per_norm(LQ64, norm)} + {mu}))))")
        return f"greatest({sc.lit(0.0)}, CAST({raw} AS {sc._sqltype}))"


class _DFRGL2:
    coord = False

    def __init__(self, c: float):
        self.c = c

    def weights(self, sc, mults, boost):
        # BasicModelG's lambda
        n = sc.stats.max_doc
        return {t: (sc.ttf(t) + 1.0) / (n + sc.ttf(t) + 1.0) for t in mults}

    def score(self, sc, w, freq, norm):
        one = sc.lit(1.0)
        tfn = _h2(sc, self.c, freq, norm)
        basic = (f"(log2(({w} + {one})) + "
                 f"({tfn} * log2((({one} + {w}) / {w}))))")
        return f"CAST(({basic} * ({one} / ({tfn} + {one}))) AS {sc._sqltype})"


class _IBSPL:
    coord = False

    def __init__(self, c: float):
        self.c = c

    def weights(self, sc, mults, boost):
        # LambdaDF, kept below 1 so SPL stays finite
        lam = {t: (sc.df(t) + 1.0) / (sc.stats.max_doc + 1.0) for t in mults}
        return {t: 0.99 if v == 1.0 else v for t, v in lam.items()}

    def score(self, sc, w, freq, norm):
        one = sc.lit(1.0)
        tfn = _h2(sc, self.c, freq, norm)
        spl = (f"(- ln(((power({w}, ({tfn} / ({tfn} + {one}))) - {w}) / "
               f"({one} - {w}))))")
        return f"CAST({spl} AS {sc._sqltype})"


def tfidf_score_frame(index: InvertedIndex, terms: list[str],
                      precision: str = "float32",
                      boost: float = 1.0) -> DataFrame:
    """(seg, docid, score, nmatched) per candidate doc (coord applied)."""
    workload = [_Query(0, _mults(terms), 1, boost)] if terms else []
    docs = _scored_docs(index, workload, precision, similarity=_Classic())
    return _plan(f"""SELECT seg, docid,
        CAST(score AS {_stype(precision)}) AS score, nmatched
        FROM ({docs.text})""", **docs.frames)


def search_tfidf(index: InvertedIndex, query_text: str, k: int = 10,
                 mode: str = "OR",
                 precision: str = "float32") -> DataFrame:
    """Top-k (key, score) under ClassicSimilarity; AND keeps the documents
    matching every clause."""
    return _topk(_single(index, query_text, mode, precision,
                         similarity=_Classic()), index, k, precision)


def search_lmdirichlet(index: InvertedIndex, query_text: str, k: int = 10,
                       mu: float = 2000.0,
                       precision: str = "float32") -> DataFrame:
    """LM Dirichlet similarity (``search/similarities/
    LMDirichletSimilarity.java:56-62``):

      score_t(freq, dl) = max(0, ln(1 + freq / (mu * p(t|C)))
                               + ln(mu / (dl + mu)))
      p(t|C) = (totalTermFreq + 1) / (numberOfFieldTokens + 1)
               (``LMSimilarity.DefaultCollectionModel:153-155``)

    dl is the QUANTIZED doc length decoded from the norm byte
    (``SimilarityBase.decodeNormValue`` = 1/decoded^2 — the engine's LQ64
    table).  Per-term scores clamp at 0 (the paper's negative-score guard),
    then sum over matching terms."""
    return _topk(_single(index, query_text, precision=precision,
                         similarity=_LMDirichlet(mu)), index, k, precision)


def search_dfr_gl2(index: InvertedIndex, query_text: str, k: int = 10,
                   c: float = 1.0,
                   precision: str = "float32") -> DataFrame:
    """DFR similarity, configuration G-L-H2 (``search/similarities/
    DFRSimilarity.java:108-112`` with ``BasicModelG`` + ``AfterEffectL``
    + ``NormalizationH2``):

      tfn    = freq * log2(1 + c * avgFieldLength / dl)   (H2)
      lambda = (ttf + 1) / (N + ttf + 1)                  (G)
      score_t = (log2(lambda+1) + tfn * log2((1+lambda)/lambda))
                * (1 / (tfn + 1))                         (L)

    dl is the quantized doc length from the norm byte (SimilarityBase
    decode — LQ64); avgFieldLength = sumTotalTermFreq / maxDoc."""
    return _topk(_single(index, query_text, precision=precision,
                         similarity=_DFRGL2(c)), index, k, precision)


def search_ib_spl(index: InvertedIndex, query_text: str, k: int = 10,
                  c: float = 1.0,
                  precision: str = "float32") -> DataFrame:
    """Information-based similarity, configuration SPL-DF-H2
    (``search/similarities/IBSimilarity.java:96-102`` with
    ``DistributionSPL`` + ``LambdaDF`` + ``NormalizationH2``):

      tfn     = freq * log2(1 + c * avgFieldLength / dl)     (H2)
      lambda  = (df + 1) / (N + 1)                           (DF)
      score_t = -ln((lambda^(tfn/(tfn+1)) - lambda) / (1 - lambda))  (SPL)
    """
    return _topk(_single(index, query_text, precision=precision,
                         similarity=_IBSPL(c)), index, k, precision)


def search_sweetspot(index: InvertedIndex, query_text: str, k: int = 10,
                     tf_base: float = 0.0, tf_min: int = 0,
                     ln_min: int = 1, ln_max: int = 1,
                     ln_steep: float = 0.5,
                     tf_mode: str = "baseline",
                     hyper_min: float = 0.0, hyper_max: float = 2.0,
                     hyper_base: float = math.e,
                     hyper_xoffset: float = 10.0,
                     precision: str = "float32") -> DataFrame:
    """SweetSpotSimilarity (``lucene/misc/.../SweetSpotSimilarity.java``):
    ClassicSimilarity with a plateaued length norm and a configurable tf —

      * ``baselineTf`` (:112-120): ``tf_base`` for ``freq <= tf_min``,
        else ``sqrt(freq + tf_base^2 - tf_min)``,
      * ``hyperbolicTf`` (:130-142): tanh-shaped saturation between
        ``hyper_min`` and ``hyper_max`` centered at ``hyper_xoffset``,
      * ``lengthNorm`` (:87-96): ``1/sqrt(steep*(|l-min|+|l-max|-(max-min))
        + 1)`` — exactly 1 on the ``[ln_min, ln_max]`` plateau, so docs in
        the sweet-spot length band take no length penalty.

    Divergence note: the reference bakes lengthNorm into the norm BYTE at
    index time (floatToByte315 lossy); this engine stores the quantized
    doc length (LQ64) and computes lengthNorm at query time from it —
    same quantization point, one fewer lossy encode."""
    sim = _SweetSpot(tf_base, tf_min, ln_min, ln_max, ln_steep, tf_mode,
                     hyper_min, hyper_max, hyper_base, hyper_xoffset)
    return _topk(_single(index, query_text, precision=precision,
                         similarity=sim), index, k, precision)
