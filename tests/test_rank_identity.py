"""Rank-identity harness over a broad generated query set — the
EnwikiQueryMaker-style regression (FIXTURES.md §2; SURVEY.md §5 (f)).

Builds one corpus, derives a deterministic mixed query set (head terms,
tail terms, stopword-containing, zero-hit, multi-term, phrases), and
asserts the engine's top-10 (both the relational float32 path AND the
block-max kernel) matches the pure-Python float32 oracle on every query:
same keys, same order, scores equal to float32 tolerance.
"""

import random
from collections import Counter

import numpy as np
import pytest

from lucene_solr_old_spark.functions.bm25 import Bm25Stats
from lucene_solr_old_spark.functions.smallfloat import doclen_to_norm
from lucene_solr_old_spark.functions.tokenizer import analyze, analyze_terms
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.indexer import build_index, compress_index
from lucene_solr_old_spark.operators.wand import wand_search
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages

N_DOCS = 400
K = 10


@pytest.fixture(scope="module")
def env(spark):
    corpus = gen_pages(N_DOCS, seed=1234)
    df = spark.createDataFrame(corpus, schema=PAGES_SCHEMA)
    idx = build_index(df, num_segments=6).persist()
    cidx = compress_index(idx).persist()
    cidx.postings.count()

    docs, doclen, dfreq = {}, {}, Counter()
    for url, _ts, _html, text, _lang in corpus:
        terms = [t.term for t in analyze(text)]
        docs[url] = Counter(terms)
        doclen[url] = len(terms)
        dfreq.update(set(terms))
    stats = Bm25Stats(len(docs), sum(doclen.values()))
    return corpus, idx, cidx, docs, doclen, dfreq, stats


def make_query_set(dfreq: Counter) -> list[str]:
    """Deterministic 60-query mix, EnwikiQueryMaker-flavored."""
    rng = random.Random(99)
    by_df = sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))
    head = [t for t, _ in by_df[:30]]
    mid = [t for t, _ in by_df[30:200]]
    tail = [t for t, d in by_df if d <= 3]
    queries = []
    for i in range(15):  # 1-term
        pool = (head, mid, tail)[i % 3]
        queries.append(rng.choice(pool))
    for i in range(15):  # 2-term mixed
        queries.append(f"{rng.choice(head)} {rng.choice(mid)}")
    for i in range(10):  # 3-4 term
        n = 3 + (i % 2)
        queries.append(" ".join(rng.choice(head + mid) for _ in range(n)))
    for i in range(5):   # stopword-containing
        queries.append(f"the {rng.choice(mid)} of {rng.choice(head)}")
    for i in range(5):   # zero-hit + partial-hit
        queries.append(f"zzqx{i}notaword {rng.choice(mid)}")
    for i in range(10):  # duplicates / repeated terms
        t = rng.choice(head)
        queries.append(f"{t} {t} {rng.choice(tail)}")
    return queries


def oracle_topk(query, docs, doclen, dfreq, stats, k=K):
    # repeated query terms = repeated clauses: the f32 partial is counted
    # once per clause (BooleanQuery clause list)
    tlist = analyze_terms(query)
    mult = {t: tlist.count(t) for t in set(tlist)}
    out = []
    for url, c in docs.items():
        total = 0.0
        matched = False
        for t, m in mult.items():
            tf = c.get(t, 0)
            if tf:
                matched = True
                total += float(stats.score(
                    dfreq[t], np.array([tf]),
                    np.array([doclen_to_norm(doclen[url])]))[0]) * m
        if matched:
            out.append((url, np.float32(total)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_rank_identity_relational_and_kernel(env):
    corpus, idx, cidx, docs, doclen, dfreq, stats = env
    queries = make_query_set(dfreq)
    assert len(queries) == 60
    n_checked = 0
    for q in queries:
        exp = oracle_topk(q, docs, doclen, dfreq, stats)
        rel = [(r["key"], float(r["score"]))
               for r in S.search_or(idx, q, k=K).collect()]
        wnd = [(r["key"], float(r["score"]))
               for r in wand_search(cidx, q, k=K).collect()]
        assert [k for k, _ in rel] == [k for k, _ in exp], ("rel", q, rel, exp)
        assert [k for k, _ in wnd] == [k for k, _ in exp], ("wand", q, wnd, exp)
        for (gk, gs), (_ek, es) in zip(rel, exp):
            assert gs == pytest.approx(float(es), rel=2e-6), ("rel", q, gk)
        for (gk, gs), (_ek, es) in zip(wnd, exp):
            assert gs == pytest.approx(float(es), rel=2e-6), ("wand", q, gk)
        n_checked += 1
    assert n_checked == 60
