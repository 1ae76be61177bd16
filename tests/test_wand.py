"""Block-max kernel vs the relational path: differential equality on the
same corpus (the TestBoolean2 cross-scorer-verification analogue,
SURVEY.md §5 #3)."""

import pytest

from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.indexer import build_index, compress_index
from lucene_solr_old_spark.operators.wand import wand_search
from lucene_solr_old_spark.sources.pages import gen_pages

N_DOCS = 300


@pytest.fixture(scope="module")
def both_indexes(spark):
    corpus = gen_pages(N_DOCS, seed=11)
    df = spark.createDataFrame(
        corpus, schema="url STRING, warc_ts TIMESTAMP, html BINARY, "
                       "text STRING, lang STRING")
    raw = build_index(df, num_segments=5).persist()
    comp = compress_index(raw).persist()
    comp.postings.count()
    return raw, comp


def pairs(df):
    return [(r["key"], round(float(r["score"]), 5)) for r in df.collect()]


QUERIES = ["running", "running meetings", "caresses ponies relational",
           "the running", "zzznothing", "don't", "meetings meetings running"]


def test_wand_or_matches_relational(both_indexes):
    raw, comp = both_indexes
    for q in QUERIES:
        rel = pairs(S.search_or(raw, q, k=10))
        wnd = pairs(wand_search(comp, q, k=10, mode="OR"))
        assert wnd == rel, q


def test_wand_and_matches_relational(both_indexes):
    raw, comp = both_indexes
    for q in ["running meetings", "caresses ponies", "running zzznothing"]:
        rel = pairs(S.search_and(raw, q, k=10))
        wnd = pairs(wand_search(comp, q, k=10, mode="AND"))
        assert wnd == rel, q


def test_wand_k_larger_than_hits(both_indexes):
    raw, comp = both_indexes
    rel = pairs(S.search_or(raw, "caresses", k=500))
    wnd = pairs(wand_search(comp, "caresses", k=500))
    assert wnd == rel


def test_compressed_save_load_roundtrip(spark, both_indexes, tmp_path):
    from lucene_solr_old_spark.operators.indexer import load_index

    _raw, comp = both_indexes
    path = str(tmp_path / "idx")
    comp.save(path)
    loaded = load_index(spark, path)
    got = pairs(wand_search(loaded, "running meetings", k=10))
    exp = pairs(wand_search(comp, "running meetings", k=10))
    assert got == exp


def test_blockmax_pruning_skips_blocks(monkeypatch):
    """Mechanical pruning proof: with a selective high-weight term setting a
    high threshold, most blocks of the low-weight common term are skipped
    (decode counter via monkeypatch)."""
    import numpy as np

    from lucene_solr_old_spark.functions.bm25 import Bm25Stats
    from lucene_solr_old_spark.operators import wand as W
    from lucene_solr_old_spark.operators.codec import encode_blocks

    rng = np.random.default_rng(5)
    n_docs = 100_000
    # common term: every doc, tf=1, long docs (weak scores)
    common_ids = np.arange(n_docs)
    common_blocks = encode_blocks(common_ids, np.ones(n_docs, int),
                                  np.full(n_docs, 110))
    # rare term: 50 docs, high tf, short docs (strong scores)
    rare_ids = np.sort(rng.choice(n_docs, 50, replace=False))
    rare_blocks = encode_blocks(rare_ids, np.full(50, 8),
                                np.full(50, 124))
    stats = Bm25Stats(n_docs, n_docs * 40)
    weights = {"rare": stats.weight_value(50), "common": stats.weight_value(n_docs)}

    calls = {"n": 0}
    real_decode = W.decode_block

    def counting_decode(blk, *a, **kw):
        calls["n"] += 1
        return real_decode(blk, *a, **kw)

    monkeypatch.setattr(W, "decode_block", counting_decode)
    d, s = W._disjunctive_kernel(
        [("rare", rare_blocks), ("common", common_blocks)],
        weights, stats.cache, k=10)
    total_blocks = len(rare_blocks) + len(common_blocks)
    assert calls["n"] < total_blocks * 0.25, (calls["n"], total_blocks)
    # and the top-k is still correct: every rare doc beats common-only docs
    order = np.lexsort((d, -s))[:10]
    top = set(d[order].tolist())
    assert top <= set(rare_ids.tolist())


def test_kernel_randomized_vs_bruteforce():
    """Property test: the disjunctive kernel == brute-force scoring on
    random posting lists (200 random cases, pure NumPy, no Spark)."""
    import numpy as np

    from lucene_solr_old_spark.functions.bm25 import Bm25Stats
    from lucene_solr_old_spark.operators.codec import encode_blocks
    from lucene_solr_old_spark.operators.wand import _disjunctive_kernel

    rng = np.random.default_rng(17)
    for case in range(200):
        n_docs = int(rng.integers(5, 3000))
        n_terms = int(rng.integers(1, 5))
        k = int(rng.integers(1, 15))
        stats = Bm25Stats(n_docs, int(n_docs * rng.integers(5, 60)))
        term_rows, weights = [], {}
        brute = {}
        for ti in range(n_terms):
            df = int(rng.integers(1, n_docs + 1))
            ids = np.sort(rng.choice(n_docs, df, replace=False))
            tf = rng.integers(1, 20, df)
            nb = rng.integers(100, 140, df)
            name = f"t{ti}"
            term_rows.append((name, encode_blocks(ids, tf, nb)))
            w = stats.weight_value(df)
            weights[name] = w
            f32 = tf.astype(np.float32)
            sc = (np.float32(w) * f32) / (f32 + stats.cache[nb])
            for d, s in zip(ids, sc):
                brute[int(d)] = np.float32(brute.get(int(d), np.float32(0))
                                           + s)
        exp = sorted(brute.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        d, s = _disjunctive_kernel(term_rows, weights, stats.cache, k)
        order = np.lexsort((d, -s))[:k]
        got = [(int(d[i]), np.float32(s[i])) for i in order]
        assert [g[0] for g in got] == [e[0] for e in exp], case
        for (gd, gs), (_ed, es) in zip(got, exp):
            assert abs(float(gs) - float(es)) < 1e-5, (case, gd)


def test_batch_wand_matches_individual(spark, both_indexes):
    """batch_wand_search == wand_search per query, one job."""
    from lucene_solr_old_spark.operators.wand import batch_wand_search

    _raw, cidx = both_indexes
    queries = [(0, "running meetings", "OR"), (1, "caresses ponies", "AND"),
               (2, "relational hopeful", "OR"),
               (3, "running running meetings", "OR")]
    batch = batch_wand_search(cidx, queries, k=10)
    by_qid = {}
    for r in batch.collect():
        by_qid.setdefault(r["qid"], []).append(
            (r["rank"], r["key"], round(float(r["score"]), 5)))
    for qid, text, mode in queries:
        single = wand_search(cidx, text, k=10, mode=mode)
        exp = [(i + 1, r["key"], round(float(r["score"]), 5))
               for i, r in enumerate(single.collect())]
        assert sorted(by_qid.get(qid, [])) == exp, (qid, text)


def test_batch_wand_collector_contract(both_indexes, per_qid_runs):
    """Rows come contiguous and rank-ordered per qid, at most k each."""
    from lucene_solr_old_spark.operators.wand import batch_wand_search

    _raw, cidx = both_indexes
    # qid 7 matches nearly every page, far more than k; qid 3 matches none
    queries = [(7, "aad", "OR"), (3, "zzznothing", "OR"),
               (0, "running meetings", "OR"), (1, "caresses ponies", "AND")]
    runs = per_qid_runs(batch_wand_search(cidx, queries, k=5).collect(), 5)
    assert runs[7] == 5 and 3 not in runs and set(runs) <= {7, 0, 1}


def test_batch_wand_jobs_per_collect(fingerprint_indexes, jobs_per_call):
    """With statistics, dictionary and keys resident, the workload runs
    in at most 2 Spark jobs from call to rows: the term-pruned scan's
    shuffle to the per-segment kernel, and the result, whose rows the
    driver merges per qid with the resident keys.  It ran 4 with a
    docmeta broadcast and a per-qid window's shuffle, and 6 with a
    global ``orderBy("qid", "rank")``."""
    from lucene_solr_old_spark.operators.wand import batch_wand_search
    from test_plan_fingerprints import BATCH

    _df, _plain, comp, _mfi = fingerprint_indexes
    comp.collection_stats()
    comp.read_resident()
    assert jobs_per_call(lambda: batch_wand_search(comp, BATCH, k=10)) <= 2
