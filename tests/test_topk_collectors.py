"""Key-free top-k collectors: each statement cuts every segment to its top
k by (score DESC, docid ASC) and reads no doc key; the driver merges the
segments by (score DESC, key ASC) with the index's resident keys.  The
cut is exact because docids ascend with keys inside every segment, which
the hash-routed build, ``build_index(route="none")`` and ``merge_many``
all guarantee."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_old_spark.operators import indexer as I
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators import spans as SP
from lucene_solr_old_spark.operators.batch import batch_search
from lucene_solr_old_spark.operators.checkindex import validate_index
from lucene_solr_old_spark.operators.merge import merge_many
from lucene_solr_old_spark.operators.wand import batch_wand_search, wand_search
from lucene_solr_old_spark.plans.xml import xml_search


def _pairs(df):
    return [(r["key"], r["score"]) for r in df.collect()]


@pytest.fixture
def statements(monkeypatch):
    """The statements the collectors collect, in call order."""
    seen = []
    collect = S._collect

    def recording(statement):
        seen.append(statement)
        return collect(statement)

    monkeypatch.setattr(S, "_collect", recording)
    return seen


# --- ties at the k-th score on a merged index ------------------------------

@pytest.fixture(scope="module")
def ties(spark, tmp_path_factory):
    """40 identical documents k000..k039 in 4 segments, merged into one
    segment, saved, compressed and loaded: (merged plain, merged
    compressed, the docs frame)."""
    docs = spark.createDataFrame(
        [(f"k{i:03d}", "alpha beta gamma") for i in range(40)],
        "url STRING, text STRING")
    root = tmp_path_factory.mktemp("ties")
    merged = merge_many(I.build_index(docs, num_segments=4), [[0, 1, 2, 3]])
    merged.save(str(root / "plain"))
    plain = I.load_index(spark, str(root / "plain"))
    I.compress_index(plain).save(str(root / "comp"))
    return plain, I.load_index(spark, str(root / "comp")), docs


def test_merged_index_keeps_key_order(ties):
    plain, comp, _docs = ties
    assert validate_index(plain)["keys_not_ascending"] == 0
    assert validate_index(comp)["keys_not_ascending"] == 0


def test_wand_ties_on_merged_index_go_to_lower_keys(ties):
    plain, comp, _docs = ties
    want = ["k000", "k001", "k002"]
    assert [k for k, _s in _pairs(S.search_or(plain, "alpha", k=3))] == want
    assert _pairs(wand_search(comp, "alpha", k=3)) == \
        _pairs(S.search_or(plain, "alpha", k=3))
    assert _pairs(wand_search(comp, "alpha beta", k=3, mode="AND")) == \
        _pairs(S.search_and(plain, "alpha beta", k=3))
    rows = batch_wand_search(comp, [(0, "alpha", "OR"),
                                    (1, "beta gamma", "AND")], k=3).collect()
    assert [(r["qid"], r["rank"], r["key"]) for r in rows] == [
        (q, i + 1, k) for q in (0, 1) for i, k in enumerate(want)]


def test_route_none_index_equals_hash_routed(spark, ties):
    _plain, _comp, docs = ties
    hashed = I.build_index(docs, num_segments=4)
    unrouted = I.build_index(docs.repartition(3), route="none")
    assert validate_index(unrouted)["keys_not_ascending"] == 0
    for q in ("alpha", "beta gamma"):
        assert _pairs(S.search_or(unrouted, q, k=5)) == \
            _pairs(S.search_or(hashed, q, k=5))
        got = {(r["qid"], r["rank"], r["key"], r["score"]) for r in
               batch_search(unrouted, [(0, q, "OR")], k=5).collect()}
        assert got == {(0, i + 1, k, s) for i, (k, s) in
                       enumerate(_pairs(S.search_or(hashed, q, k=5)))}


def test_checkindex_flags_docids_out_of_key_order(ties):
    """A segment renumbered by doc base, as merge_many did before it
    renumbered in key order, fails the check."""
    _plain, _comp, docs = ties
    idx = I.build_index(docs, num_segments=4)
    counts = sorted((r[0], r[1]) for r in
                    idx.docmeta.groupBy("seg").count().collect())
    base = dict(zip([s for s, _n in counts],
                    np.cumsum([0] + [n for _s, n in counts]).tolist()))
    by_base = idx.docmeta.select(
        F.lit(0).alias("seg"),
        (F.col("docid") + F.create_map(*[F.lit(x) for s, b in base.items()
                                         for x in (s, b)])[F.col("seg")])
        .cast("int").alias("docid"), "key", "doclen", "norm")
    bad = I.InvertedIndex(idx.postings, by_base, idx.segstats,
                          idx.with_positions, idx.analyzer)
    assert validate_index(bad)["keys_not_ascending"] > 0


def _close(got, want):
    """Same keys in the same order, scores equal to float32 precision:
    the WAND kernel sums a document's clauses in float32, the relational
    plan in float64."""
    return [k for k, _s in got] == [k for k, _s in want] and all(
        abs(a - b) <= 1e-6 * max(1.0, abs(b))
        for (_k, a), (_w, b) in zip(got, want))


def _keyed_top(index, per_doc, k):
    """The reference: every hit joined to its key and ordered by (score
    DESC, key ASC), as the keyed collector did."""
    return (S._with_keys(per_doc, index)
            .select("key", F.col("score").cast("float").alias("score"))
            .orderBy(F.desc("score"), "key").limit(k))


@pytest.fixture(scope="module")
def reshaped(fingerprint_indexes):
    """The fingerprint pages merged into two segments, and built with
    route="none" from three input partitions."""
    df, plain, _comp, _mfi = fingerprint_indexes
    return (merge_many(plain, [[0, 2], [1, 3]]),
            I.build_index(df.repartition(3), route="none"))


@pytest.mark.parametrize("which", ["merged", "route_none"])
def test_reshaped_indexes_equal_the_keyed_collector(reshaped, which):
    idx = reshaped[["merged", "route_none"].index(which)]
    comp = I.compress_index(idx)
    for text in ("running meetings caresses", "aad and"):
        want = _pairs(_keyed_top(idx, S._single(idx, text), 7))
        assert _pairs(S.search_or(idx, text, k=7)) == want
        assert _close(_pairs(wand_search(comp, text, k=7)), want)
    assert _pairs(S.search_dismax(idx, "relational hopeful", k=7,
                                  tie_breaker=0.1)) == _pairs(_keyed_top(
        idx, S._single(idx, "relational hopeful", tie_breaker=0.1), 7))
    assert _pairs(S.search_phrase(idx, "aad aaeevnqlbaa", k=7)) == _pairs(
        _keyed_top(idx, S._phrase_frame(idx, [["aad"], ["aaeevnqlbaa"]],
                                        [0, 1]), 7))
    workload = [(0, "aad and", "OR"), (1, "running meetings", "AND")]
    for make, index in ((batch_search, idx), (batch_wand_search, comp)):
        got = {}
        for r in make(index, workload, k=7).collect():
            got.setdefault(r["qid"], []).append((r["key"], r["score"]))
        assert got.keys() == {0, 1} and all(
            _close(got[q], _pairs(S.search_terms(idx, t, m, k=7)))
            for q, t, m in workload)


# --- resident keys, row bounds, statements ---------------------------------

@pytest.fixture(scope="module")
def loaded(fingerprint_indexes, tmp_path_factory, spark):
    """The fingerprint pages' plain and compressed indexes, saved and
    loaded."""
    _df, plain, comp, _mfi = fingerprint_indexes
    root = tmp_path_factory.mktemp("collectors")
    plain.save(str(root / "plain"))
    comp.save(str(root / "comp"))
    return str(root / "plain"), str(root / "comp")


def _warm(spark, paths):
    """Loaded indexes with their statistics, dictionary and keys read."""
    out = []
    for p in paths:
        idx = I.load_index(spark, p)
        idx.collection_stats()
        idx.read_resident()
        out.append(idx)
    return out


SINGLE = {
    "search_or": lambda p, c: S.search_or(p, "running meetings caresses"),
    "search_and": lambda p, c: S.search_and(p, "running meetings"),
    "search_dismax": lambda p, c: S.search_dismax(p, "relational hopeful",
                                                  tie_breaker=0.1),
    "search_phrase": lambda p, c: S.search_phrase(p, "aad aaeevnqlbaa"),
    "wand_search_or": lambda p, c: wand_search(c, "running meetings"),
    "wand_search_and": lambda p, c: wand_search(c, "running meetings",
                                                mode="AND"),
}
WORKLOAD = [(0, "running meetings", "OR"), (1, "caresses ponies", "AND"),
            (2, "relational hopeful running", "OR"), (3, "aad", "OR")]
BATCH = {
    "batch_search": lambda p, c: batch_search(p, WORKLOAD, k=5),
    "batch_wand_search": lambda p, c: batch_wand_search(c, WORKLOAD, k=5),
}


@pytest.mark.parametrize("name", sorted(SINGLE) + sorted(BATCH))
def test_collector_runs_two_jobs(name, loaded, spark, jobs_per_call):
    """With statistics, dictionary and keys resident, a collector runs its
    statement's two jobs (the scan up to the segment or qid shuffle, and
    the result) and returns a frame whose collect runs none."""
    plain, comp = _warm(spark, loaded)
    run = {**SINGLE, **BATCH}[name]
    assert jobs_per_call(lambda: run(plain, comp)) <= 2
    out = run(plain, comp)
    assert jobs_per_call(out.collect) == 0


@pytest.mark.parametrize("name", sorted(SINGLE) + sorted(BATCH))
def test_statements_read_no_docmeta(name, loaded, spark, statements):
    plain, comp = _warm(spark, loaded)
    {**SINGLE, **BATCH}[name](plain, comp)
    assert statements
    for st in statements:
        plan = st._jdf.queryExecution().executedPlan().toString()
        assert "docmeta" not in plan and "Scan" in plan, plan


def test_keys_read_with_the_dictionary(loaded, spark, jobs_per_call):
    """A new index object reads its keys beside its term dictionary (two
    concurrent jobs), and the compressed index carries them."""
    plain = I.load_index(spark, loaded[0])
    plain.collection_stats()
    assert jobs_per_call(plain.read_resident) == 2
    assert isinstance(plain._key_arrays, dict)
    assert I.compress_index(plain)._key_arrays is plain._key_arrays
    assert jobs_per_call(plain.read_resident) == 0


def test_over_budget_keys_give_the_same_rows(loaded, spark, monkeypatch,
                                             caplog):
    plain, comp = _warm(spark, loaded)
    want = {name: [repr(r) for r in run(plain, comp).collect()]
            for name, run in {**SINGLE, **BATCH}.items()}
    first = S.search_or(plain, "running meetings", k=5).collect()
    after = (first[-1]["score"], first[-1]["key"])
    want_after = S.search_after(plain, "running meetings", 5, *after).collect()
    monkeypatch.setattr(I, "_RESIDENT_KEY_ROWS", 10)
    plain, comp = (I.load_index(spark, p) for p in loaded)
    got = {name: [repr(r) for r in run(plain, comp).collect()]
           for name, run in {**SINGLE, **BATCH}.items()}
    assert got == want
    assert S.search_after(plain, "running meetings", 5,
                          *after).collect() == want_after
    assert plain._key_arrays == () and comp._key_arrays == ()


@pytest.mark.parametrize("make", [batch_search, batch_wand_search])
def test_workload_runs_in_chunks_within_the_row_bound(make, loaded, spark,
                                                      monkeypatch,
                                                      statements):
    """queries x segments x k rows at most reach the driver per
    statement: over ``_TOPK_ROWS`` the workload runs in query chunks,
    with the same rows."""
    plain, comp = _warm(spark, loaded)
    idx = plain if make is batch_search else comp
    want = make(idx, WORKLOAD, k=5).collect()
    # 4 segments x k=5: 20 rows per query, so two queries per chunk
    monkeypatch.setattr(S, "_TOPK_ROWS", 40)
    del statements[:]
    assert make(idx, WORKLOAD, k=5).collect() == want
    assert len(statements) == 2
    assert all(S._collect(st).num_rows <= 40 for st in list(statements))


def test_single_query_row_bound(loaded, spark, statements):
    """A single query brings at most k rows per segment to the driver,
    however many documents tie at the k-th score."""
    plain, _comp = _warm(spark, loaded)
    out = S.search_or(plain, "aad and", k=3).collect()
    rows = S._collect(statements[-1])
    segs = rows.column("seg").to_numpy()
    assert len(out) == 3 and max(np.bincount(segs)) <= 3


def test_dismax_tie_rounds_like_the_xml_dismax(fingerprint_indexes):
    """search_dismax and an XML DisjunctionMaxQuery of the same terms
    carry the tie as the same score-type literal: equal float32 bits."""
    _df, plain, _comp, _mfi = fingerprint_indexes
    terms = ["run", "meet", "caress"]
    xml = ('<DisjunctionMaxQuery tieBreaker="0.1" fieldName="contents">'
           + "".join(f"<TermQuery>{t}</TermQuery>" for t in terms)
           + "</DisjunctionMaxQuery>")
    got = _pairs(S.search_dismax(plain, "running meetings caresses", k=50,
                                 tie_breaker=0.1))
    want = _pairs(xml_search(plain, xml, k=50))
    assert len(got) > 10
    assert [(k, np.float32(s).tobytes()) for k, s in got] == \
        [(k, np.float32(s).tobytes()) for k, s in want]


def test_span_and_sloppy_phrase_cut_per_segment(fingerprint_indexes):
    """The Python-step plans feed the cut like the others: top-k equal to
    the same frame ranked in full by key."""
    _df, plain, _comp, _mfi = fingerprint_indexes
    for got, per_doc in (
            (SP.span_near(plain, "aad aaeevnqlbaa", slop=2, k=5),
             SP.span_score_frame(plain, ("near", [("term", "aad"),
                                                  ("term", "aaeevnqlbaa")],
                                         2, True))),
            (S.search_phrase(plain, "aad aaferqwx aad", k=5, slop=2),
             S.phrase_score_frame(plain, ["aad", "aaferqwx", "aad"],
                                  slop=2))):
        full = (S._with_keys(per_doc, plain)
                .select("key", F.col("score").cast("float").alias("score"))
                .orderBy(F.desc("score"), "key").limit(5))
        assert _pairs(got) == _pairs(full)
