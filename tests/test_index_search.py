"""End-to-end index + search vs a pure-Python oracle, plus differential
parallelism runs (SURVEY.md §5's translation: (c) control-vs-parallel,
(f) rank identity)."""

from collections import Counter

import numpy as np
import pytest

from lucene_solr_old_spark.functions.bm25 import Bm25Stats
from lucene_solr_old_spark.functions.htmlstrip import html_to_text
from lucene_solr_old_spark.functions.smallfloat import doclen_to_norm
from lucene_solr_old_spark.functions.tokenizer import (
    analyze, analyze_terms, get_analyzer)
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.sources.pages import gen_pages, pages_dataframe

N_DOCS = 240


@pytest.fixture(scope="module")
def corpus():
    return gen_pages(N_DOCS, seed=7)


@pytest.fixture(scope="module")
def index(spark, corpus):
    df = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING")
    idx = build_index(df, key_col="url", text_col="text", num_segments=4)
    idx.persist()
    yield idx


class PyOracle:
    """Brute-force reference retrieval over analyzed docs (float32 BM25)."""

    def __init__(self, corpus):
        self.docs = {}       # url -> Counter(term)
        self.positions = {}  # url -> {term: [pos]}
        self.doclen = {}
        for url, _ts, _html, text, _lang in corpus:
            toks = analyze(text)
            self.docs[url] = Counter(t.term for t in toks)
            pos = {}
            for t in toks:
                pos.setdefault(t.term, []).append(t.pos)
            self.positions[url] = pos
            self.doclen[url] = len(toks)
        self.max_doc = len(self.docs)
        self.sum_ttf = sum(self.doclen.values())
        self.stats = Bm25Stats(self.max_doc, self.sum_ttf)
        self.df = Counter()
        for c in self.docs.values():
            self.df.update(c.keys())

    def score(self, url, terms):
        total = 0.0  # float64 accumulate, like the Spark sum, cast at end
        for t in set(terms):
            tf = self.docs[url].get(t, 0)
            if tf == 0:
                continue
            s = self.stats.score(self.df[t], np.array([tf]),
                                 np.array([doclen_to_norm(self.doclen[url])]))
            total += float(s[0])
        return np.float32(total)

    def topk(self, query, k=10, mode="OR", exclude=None, msm=0):
        terms = analyze_terms(query)
        ex_terms = analyze_terms(exclude) if exclude else []
        out = []
        for url, c in self.docs.items():
            matched = sum(1 for t in set(terms) if c.get(t, 0) > 0)
            if matched == 0:
                continue
            if mode == "AND" and matched < len(set(terms)):
                continue
            if msm and matched < msm:
                continue
            if ex_terms and any(c.get(t, 0) > 0 for t in ex_terms):
                continue
            out.append((url, float(self.score(url, terms))))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]

    def phrase_freq(self, url, terms):
        pos = self.positions[url]
        if any(t not in pos for t in terms):
            return 0
        base = set(pos[terms[0]])
        for i, t in enumerate(terms[1:], start=1):
            base &= {p - i for p in pos[t]}
        return len(base)


@pytest.fixture(scope="module")
def oracle(corpus):
    return PyOracle(corpus)


def rows_to_pairs(df):
    return [(r["key"], float(r["score"])) for r in df.collect()]


def assert_rank_identical(got, exp):
    assert len(got) == len(exp)
    for (gk, gs), (ek, es) in zip(got, exp):
        assert gk == ek, (got, exp)
        assert gs == pytest.approx(es, rel=1e-6), (gk, gs, es)


QUERIES = [
    "caresses ponies",           # porter-stemmed pair
    "running meetings",          # head-ish terms
    "don't",                     # apostrophe token
    "example.com",               # midnumlet token
    "relational the hopeful",    # stopword mixed in (dropped by analysis)
    "zzzz notfoundterm",         # zero-hit
]


def test_collection_stats_match_oracle(index, oracle):
    assert index.collection_stats() == (oracle.max_doc, oracle.sum_ttf)


def test_or_queries_rank_identical(index, oracle):
    for q in QUERIES:
        got = rows_to_pairs(S.search_or(index, q, k=10))
        exp = oracle.topk(q, k=10, mode="OR")
        assert_rank_identical(got, exp)


def test_and_queries(index, oracle):
    for q in ["running meetings", "caresses ponies"]:
        got = rows_to_pairs(S.search_and(index, q, k=10))
        exp = oracle.topk(q, k=10, mode="AND")
        assert_rank_identical(got, exp)


def test_must_not(index, oracle):
    got = rows_to_pairs(
        S.search_terms(index, "running", exclude_text="meetings", k=10))
    exp = oracle.topk("running", k=10, exclude="meetings")
    assert_rank_identical(got, exp)


def test_min_should_match(index, oracle):
    q = "running meetings caresses"
    got = rows_to_pairs(S.search_terms(index, q, k=10, min_should_match=2))
    exp = oracle.topk(q, k=10, msm=2)
    assert_rank_identical(got, exp)


def test_dismax(index, oracle):
    q = "running meetings"
    got = rows_to_pairs(S.search_dismax(index, q, k=10, tie_breaker=0.3))
    terms = analyze_terms(q)
    exp = []
    for url, c in oracle.docs.items():
        subs = []
        for t in set(terms):
            tf = c.get(t, 0)
            if tf:
                subs.append(float(oracle.stats.score(
                    oracle.df[t], np.array([tf]),
                    np.array([doclen_to_norm(oracle.doclen[url])]))[0]))
        if subs:
            exp.append((url, max(subs) + 0.3 * (sum(subs) - max(subs))))
    exp.sort(key=lambda x: (-x[1], x[0]))
    assert_rank_identical(got, exp[:10])


def test_count_query(index, oracle):
    for q, mode in [("running meetings", "OR"), ("running meetings", "AND")]:
        got = S.count_query(index, q, mode)
        exp = len(oracle.topk(q, k=10 ** 9, mode=mode))
        assert got == exp


def test_search_after_pagination(index, oracle):
    q = "running meetings caresses"
    full = oracle.topk(q, k=20)
    page1 = rows_to_pairs(S.search_or(index, q, k=5))
    assert_rank_identical(page1, full[:5])
    last = page1[-1]
    page2 = rows_to_pairs(S.search_after(index, q, 5, last[1], last[0]))
    assert_rank_identical(page2, full[5:10])
    # a repeated term is a repeated clause: the cursor page must continue
    # search_or's ranking, multiplicity included
    q = "caresses caresses ponies"
    full = rows_to_pairs(S.search_or(index, q, k=10))
    last = full[4]
    page2 = rows_to_pairs(S.search_after(index, q, 5, last[1], last[0]))
    assert page2 == full[5:10]


def test_phrase_query(index, oracle, corpus):
    # find a phrase that actually occurs: take two consecutive analyzed
    # terms from the first doc
    toks = [t.term for t in analyze(corpus[0][3])]
    phrase_terms = toks[1:3]
    q = " ".join(phrase_terms)
    got = rows_to_pairs(S.search_phrase(index, q, k=10))
    # oracle phrase scoring
    tstats_df = {t: oracle.df[t] for t in phrase_terms}
    idf_sum = np.float32(0.0)
    for t in phrase_terms:
        idf_sum = idf_sum + oracle.stats.idf(tstats_df[t])
    wv = idf_sum * (oracle.stats.k1 + np.float32(1.0))
    exp = []
    for url in oracle.docs:
        pf = oracle.phrase_freq(url, phrase_terms)
        if pf > 0:
            norm = int(doclen_to_norm(oracle.doclen[url]))
            cache = oracle.stats.cache[norm]
            s = float((np.float32(wv) * np.float32(pf))
                      / (np.float32(pf) + cache))
            exp.append((url, s))
    exp.sort(key=lambda x: (-x[1], x[0]))
    assert len(got) > 0
    assert_rank_identical(got, exp[:10])


def test_differential_parallelism(spark, corpus, index):
    """Control-vs-parallel: 1 segment vs 7 segments vs 4 — identical results
    (the BaseDistributedSearchTestCase analogue, SURVEY.md §5)."""
    df = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING")
    idx1 = build_index(df, num_segments=1)
    idx7 = build_index(df, num_segments=7)
    q = "running meetings caresses"
    r_ctl = rows_to_pairs(S.search_or(idx1, q, k=10))
    r_par = rows_to_pairs(S.search_or(idx7, q, k=10))
    r_idx = rows_to_pairs(S.search_or(index, q, k=10))
    assert r_ctl == r_par == r_idx


def test_extractor_invariant_on_corpus(corpus):
    """byte-identical extracted text per url (BASELINE.json input_hint)."""
    for url, _ts, html, text, _lang in corpus:
        assert html_to_text(html) == text, url


def test_repeated_term_scores_once_per_clause(index, oracle):
    """BooleanQuery "a a b": the repeated term is two SHOULD clauses and
    contributes its TermQuery score twice (BooleanQuery.java clause list);
    min_should_match counts clauses."""
    got = rows_to_pairs(S.search_or(index, "caresses caresses ponies", k=10))
    # expected: score(caress)*2 + score(poni), float64-accumulated
    exp = []
    for url, c in oracle.docs.items():
        s = 0.0
        matched = 0
        for t, mult in (("caress", 2), ("poni", 1)):
            tf = c.get(t, 0)
            if tf == 0:
                continue
            matched += mult
            part = oracle.stats.score(
                oracle.df[t], np.array([tf]),
                np.array([doclen_to_norm(oracle.doclen[url])]))
            s += float(part[0]) * mult
        if matched:
            exp.append((url, float(np.float32(s))))
    exp.sort(key=lambda x: (-x[1], x[0]))
    assert_rank_identical(got, exp[:10])
    # AND with a repeated term still requires only the distinct terms
    got_and = rows_to_pairs(
        S.search_and(index, "caresses caresses ponies", k=10))
    exp_and = [e for e in exp
               if oracle.docs[e[0]].get("caress", 0) > 0
               and oracle.docs[e[0]].get("poni", 0) > 0]
    assert [k for k, _ in got_and] == [k for k, _ in exp_and[:10]]


def _inversion_oracle(corpus, analyzer, with_positions, with_offsets):
    """Driver-side inversion of get_analyzer's token streams:
    (term, key) -> (freq, norm[, positions][, starts, ends]) and
    key -> (doclen, norm)."""
    analyze_fn = get_analyzer(analyzer)
    posts, meta = {}, {}
    for url, _ts, _html, text, _lang in corpus:
        toks = analyze_fn(text)
        norm = int(doclen_to_norm(len(toks)))
        meta[url] = (len(toks), norm)
        per_term = {}
        for t in toks:
            per_term.setdefault(t.term, []).append(t)
        for term, ts in per_term.items():
            row = (len(ts), norm)
            if with_positions:
                row += (tuple(t.pos for t in ts),)
            if with_offsets:
                row += (tuple(t.start for t in ts), tuple(t.end for t in ts))
            posts[(term, url)] = row
    return posts, meta


@pytest.mark.parametrize("analyzer,with_positions,with_offsets", [
    ("english", True, False),
    ("english", False, False),
    ("ws_stop", True, True),
], ids=["english", "english_no_positions", "ws_stop_offsets"])
def test_build_matches_inversion_oracle(spark, corpus, analyzer,
                                        with_positions, with_offsets):
    """The build against a driver-side inversion of the analyzer's token
    streams (for "english" this cross-checks the analyze_inverted fast
    path): every posting's fields, per-term df/ttf, docmeta, docids = dense
    key rank per segment, and one exchange (doc routing) in the postings
    plan."""
    df = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING")
    idx = build_index(df, num_segments=4, analyzer=analyzer,
                      with_positions=with_positions,
                      with_offsets=with_offsets, persist_termdoc=False)
    exp_posts, exp_meta = _inversion_oracle(corpus, analyzer,
                                            with_positions, with_offsets)

    docmeta = idx.docmeta.collect()
    assert len(docmeta) == len(exp_meta)
    assert {r["key"]: (r["doclen"], r["norm"]) for r in docmeta} == exp_meta
    by_seg = {}
    for r in docmeta:
        by_seg.setdefault(r["seg"], []).append((r["key"], r["docid"]))
    for rows in by_seg.values():
        assert [d for _k, d in sorted(rows)] == list(range(len(rows)))
    key_of = {(r["seg"], r["docid"]): r["key"] for r in docmeta}

    fields = (["docid", "freq", "norm"]
              + (["positions"] if with_positions else [])
              + (["starts", "ends"] if with_offsets else []))
    got_posts, got_stats, exp_stats = {}, Counter(), Counter()
    for r in idx.postings.collect():
        plist = r["postings"]
        assert list(plist[0].asDict()) == fields
        assert r["df"] == len(plist)
        assert r["ttf"] == sum(p["freq"] for p in plist)
        docids = [p["docid"] for p in plist]
        assert docids == sorted(set(docids))
        got_stats[(r["term"], "df")] += r["df"]
        got_stats[(r["term"], "ttf")] += r["ttf"]
        for p in plist:
            row = (p["freq"], p["norm"])
            if with_positions:
                row += (tuple(p["positions"]),)
            if with_offsets:
                row += (tuple(p["starts"]), tuple(p["ends"]))
            got_posts[(r["term"], key_of[(r["seg"], p["docid"])])] = row
    for (term, _key), row in exp_posts.items():
        exp_stats[(term, "df")] += 1
        exp_stats[(term, "ttf")] += row[0]
    assert got_posts == exp_posts
    assert got_stats == exp_stats

    plan = idx.postings._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints the plan twice
    assert final.count("Exchange") == 1, plan


def test_salt_partitions_is_deprecated(spark, corpus):
    df = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING")
    with pytest.warns(DeprecationWarning, match="salt_partitions"):
        build_index(df, num_segments=2, salt_partitions=4)


def test_route_none_query_identical(spark, corpus):
    """Zero-shuffle ingest (segment = input partition, DWPT-style arrival
    docids): query results identical to the routed build — only internal
    seg/docid labels differ."""
    df = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING").repartition(5)
    routed = build_index(df, num_segments=4)
    unrouted = build_index(df, route="none")
    assert routed.collection_stats() == unrouted.collection_stats()
    for q in ["caresses ponies", "running meetings", "don't"]:
        a = [(r["key"], round(float(r["score"]), 5))
             for r in S.search_or(routed, q, k=10).collect()]
        b = [(r["key"], round(float(r["score"]), 5))
             for r in S.search_or(unrouted, q, k=10).collect()]
        assert a == b, q
    # truly zero exchanges added by the build (the input's own lineage
    # here must not contain one, so build from the raw frame)
    raw = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING")
    plan = build_index(raw, route="none", persist_termdoc=False) \
        .postings._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final, final


def test_packed_save_layout_round_trip(spark, tmp_path):
    """layout='packed' (bulk-ingest): range files instead of seg= dirs;
    identical query results after load, file count tracks parallelism
    not segment count."""
    import os

    from lucene_solr_old_spark.operators.indexer import (build_index,
                                                         load_index)
    from lucene_solr_old_spark.operators import search as S

    docs = spark.createDataFrame(
        [(f"d{i:03d}", f"spark query engine term{i % 7}") for i in range(60)],
        "url string, text string")
    idx = build_index(docs, num_segments=12, analyzer="ws_lower")
    p1, p2 = str(tmp_path / "segdir"), str(tmp_path / "packed")
    idx.save(p1)
    idx.save(p2, layout="packed")
    # no seg= partition dirs in packed; file count <= parallelism-ish,
    # NOT one per segment
    assert not any(f.startswith("seg=")
                   for f in os.listdir(os.path.join(p2, "postings")))
    a = load_index(spark, p1)
    b = load_index(spark, p2)
    ra = [(r["key"], round(r["score"], 5)) for r in
          S.search_or(a, "spark term3", k=20, precision="float64").collect()]
    rb = [(r["key"], round(r["score"], 5)) for r in
          S.search_or(b, "spark term3", k=20, precision="float64").collect()]
    assert ra == rb and len(ra) == 20

    import pytest
    with pytest.raises(ValueError):
        idx.save(str(tmp_path / "x"), layout="banana")
