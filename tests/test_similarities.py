"""The non-BM25 similarities of operators/tfidf.py against a plain-Python
per-document oracle at float64.

The oracle analyses every document with the index's analyzer
(``get_analyzer``), takes the collection and term statistics from those
tokens, and decodes each document's norm byte the way the engine does:
LQ64 (the quantized length) for LM-Dirichlet, DFR, IB and SweetSpot, the
byte315 decode of ``1/sqrt(doclen)`` for TF-IDF.  A repeated query term
is a repeated clause: it counts once per clause in the score and in the
TF-IDF/SweetSpot query norm and coord.
"""

from __future__ import annotations

import math

import pytest

from lucene_solr_old_spark.functions.smallfloat import (byte315_to_float,
                                                        doclen_to_norm)
from lucene_solr_old_spark.functions.tokenizer import get_analyzer
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.operators.search import LQ64
from lucene_solr_old_spark.operators.tfidf import (
    search_dfr_gl2, search_ib_spl, search_lmdirichlet, search_sweetspot,
    search_tfidf, tfidf_score_frame)

ANALYZER = "english"
DOCS = [
    ("d1", "spark joins spark merges and spark windows"),
    ("d2", "spark window functions over a partition"),
    ("d3", "join join join the tables " + "filler " * 12),
    ("d4", "nothing else here at all"),
    ("d5", "merge sort join " + "padding words " * 20),
    ("d6", "a spark of light"),
    ("d7", "tables and joins and sparks " * 3),
    ("d8", "window spark join merge table partition"),
]
QUERIES = ["spark join", "spark spark join", "window merge tables"]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(DOCS, "url STRING, text STRING")
    return build_index(df, num_segments=2, analyzer=ANALYZER).persist()


class _Corpus:
    def __init__(self, docs=DOCS):
        an = get_analyzer(ANALYZER)
        self.toks = {u: [t.term for t in an(text)] for u, text in docs}
        self.n = len(docs)
        self.sum_ttf = sum(len(t) for t in self.toks.values())
        self.avg_fl = self.sum_ttf / self.n

    def terms(self, text):
        return [t.term for t in get_analyzer(ANALYZER)(text)]

    def df(self, t):
        return sum(1 for toks in self.toks.values() if t in toks)

    def ttf(self, t):
        return sum(toks.count(t) for toks in self.toks.values())

    def norm(self, u):
        return int(doclen_to_norm(len(self.toks[u])))

    def dl(self, u):
        return LQ64[self.norm(u)]

    def per_doc(self, qterms, term_score, coord=False, need=1):
        """{key: score}: the clause scores summed per document, times
        ``matched clauses / clauses`` when ``coord``."""
        out = {}
        for u, toks in self.toks.items():
            s, matched = 0.0, 0
            for t in qterms:  # one clause per query term, repeats included
                freq = toks.count(t)
                if freq:
                    s += term_score(t, freq, u)
                    matched += 1
            if matched and matched >= need:
                out[u] = s * matched / len(qterms) if coord else s
        return out

    def h2(self, freq, u, c=1.0):
        return freq * math.log2(1.0 + c * self.avg_fl / self.dl(u))

    def tfidf_value(self, qterms):
        idf = {t: math.log(self.n / (self.df(t) + 1.0)) + 1.0
               for t in qterms}
        qn = 1.0 / math.sqrt(sum(idf[t] ** 2 for t in qterms))
        return {t: idf[t] * idf[t] * qn for t in qterms}


C = _Corpus()


def _lm(q, mu=2000.0):
    def score(t, freq, u):
        p = (C.ttf(t) + 1.0) / (C.sum_ttf + 1.0)
        return max(0.0, math.log(1.0 + freq / (mu * p))
                   + math.log(mu / (C.dl(u) + mu)))
    return C.per_doc(C.terms(q), score)


def _dfr(q):
    def score(t, freq, u):
        lam = (C.ttf(t) + 1.0) / (C.n + C.ttf(t) + 1.0)
        tfn = C.h2(freq, u)
        return ((math.log2(lam + 1.0) + tfn * math.log2((1.0 + lam) / lam))
                / (tfn + 1.0))
    return C.per_doc(C.terms(q), score)


def _ib(q):
    def score(t, freq, u):
        lam = (C.df(t) + 1.0) / (C.n + 1.0)
        lam = 0.99 if lam == 1.0 else lam
        tfn = C.h2(freq, u)
        return -math.log((lam ** (tfn / (tfn + 1.0)) - lam) / (1.0 - lam))
    return C.per_doc(C.terms(q), score)


def _tfidf(q, mode="OR"):
    qterms = C.terms(q)
    value = C.tfidf_value(qterms)

    def score(t, freq, u):
        nv = float(byte315_to_float(C.norm(u)))
        return math.sqrt(freq) * value[t] * nv
    need = len(qterms) if mode == "AND" else 1
    return C.per_doc(qterms, score, coord=True, need=need)


def _sweetspot(q, tf_mode, ln_min, ln_max, steep=0.5, tf_base=0.0,
               tf_min=0, h_min=0.0, h_max=2.0, h_base=math.e, h_x=10.0):
    qterms = C.terms(q)
    value = C.tfidf_value(qterms)

    def tf(freq):
        if tf_mode == "baseline":
            return (tf_base if freq <= tf_min
                    else math.sqrt(freq + tf_base * tf_base - tf_min))
        x = freq - h_x
        return h_min + (h_max - h_min) / 2.0 * (
            (h_base ** x - h_base ** -x) / (h_base ** x + h_base ** -x) + 1)

    def score(t, freq, u):
        dl = C.dl(u)
        lnorm = 1.0 / math.sqrt(
            steep * (abs(dl - ln_min) + abs(dl - ln_max) - (ln_max - ln_min))
            + 1.0)
        return tf(freq) * value[t] * lnorm
    return C.per_doc(qterms, score, coord=True)


CASES = {
    "lm_dirichlet": (lambda i, q: search_lmdirichlet(
        i, q, k=20, precision="float64"), _lm),
    "lm_dirichlet_mu50": (lambda i, q: search_lmdirichlet(
        i, q, k=20, mu=50.0, precision="float64"),
        lambda q: _lm(q, mu=50.0)),
    "dfr_gl2": (lambda i, q: search_dfr_gl2(i, q, k=20, precision="float64"),
                _dfr),
    "ib_spl": (lambda i, q: search_ib_spl(i, q, k=20, precision="float64"),
               _ib),
    "tfidf_or": (lambda i, q: search_tfidf(i, q, k=20, precision="float64"),
                 _tfidf),
    "tfidf_and": (lambda i, q: search_tfidf(i, q, k=20, mode="AND",
                                            precision="float64"),
                  lambda q: _tfidf(q, "AND")),
    "sweetspot_baseline": (lambda i, q: search_sweetspot(
        i, q, k=20, ln_min=3, ln_max=8, tf_base=0.5, tf_min=1,
        precision="float64"),
        lambda q: _sweetspot(q, "baseline", 3, 8, tf_base=0.5, tf_min=1)),
    "sweetspot_hyperbolic": (lambda i, q: search_sweetspot(
        i, q, k=20, tf_mode="hyperbolic", ln_min=1, ln_max=12,
        hyper_xoffset=2.0, precision="float64"),
        lambda q: _sweetspot(q, "hyperbolic", 1, 12, h_x=2.0)),
}


def test_oracle_corpus_matches_index(idx):
    """The oracle's document lengths and norm bytes are the index's."""
    got = {r["key"]: (r["doclen"], r["norm"])
           for r in idx.docmeta.select("key", "doclen", "norm").collect()}
    assert got == {u: (len(t), C.norm(u)) for u, t in C.toks.items()}


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("name", list(CASES))
def test_similarity_matches_oracle(idx, name, query):
    run, oracle = CASES[name]
    got = {r["key"]: float(r["score"]) for r in run(idx, query).collect()}
    exp = oracle(query)
    assert set(got) == set(exp)
    for key, score in exp.items():
        assert got[key] == pytest.approx(score, rel=1e-9, abs=1e-12), key


def test_repeated_term_is_a_repeated_clause(idx):
    """'spark spark join' weights spark twice: its per-doc scores differ
    from 'spark join' wherever spark matches."""
    once = {r["key"]: float(r["score"]) for r in search_lmdirichlet(
        idx, "spark join", k=20, precision="float64").collect()}
    twice = {r["key"]: float(r["score"]) for r in search_lmdirichlet(
        idx, "spark spark join", k=20, precision="float64").collect()}
    assert set(once) == set(twice)
    assert twice["d6"] == pytest.approx(2 * once["d6"], rel=1e-12)


def test_tfidf_score_frame_counts_clauses(idx):
    """The per-doc frame behind TF-IDF: coord-scaled scores and the
    matched clause count, a repeated term counting once per clause."""
    terms = C.terms("spark spark join")
    keys = idx.docmeta.select("seg", "docid", "key")
    got = {r["key"]: (float(r["score"]), r["nmatched"]) for r in
           tfidf_score_frame(idx, terms, precision="float64")
           .join(keys, ["seg", "docid"]).collect()}
    exp = _tfidf("spark spark join")
    assert set(got) == set(exp)
    for key, score in exp.items():
        assert got[key][0] == pytest.approx(score, rel=1e-9), key
        toks = C.toks[key]
        assert got[key][1] == sum(1 for t in terms if t in toks), key
