"""Plan-shape fingerprints of the query, build and merge entry points.

Each entry point runs once on a tiny index (500 generated pages, the size
of the sf0.001 documents table); builds run unpersisted, so the inversion
stage itself is in the counted plan.  A query entry point runs its
collector's statement when called and returns a local frame, so its
counted plan is that statement's (the last one ``search._collect`` ran).
The counts of Exchange, Window, join, Python-exec, TakeOrderedAndProject
and scan nodes in the executed (final adaptive) plan are compared with
``plan_fingerprints.json``; the
scan count shows how often a plan reads its inputs.  A count may
fall but never rise: a plan regression then fails here instead of
showing up as benchmark noise.

Print the current counts as JSON (to refresh the file after a deliberate
plan improvement) with::

    python tests/test_plan_fingerprints.py
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_old_spark.operators import search as S  # noqa: E402
from lucene_solr_old_spark.operators import spans as SP  # noqa: E402
from lucene_solr_old_spark.operators import wand as W  # noqa: E402
from lucene_solr_old_spark.operators.mlt import more_like_this  # noqa: E402
from lucene_solr_old_spark.operators.tfidf import (  # noqa: E402
    search_lmdirichlet, search_tfidf)
from lucene_solr_old_spark.operators.multifield import (  # noqa: E402
    MultiFieldIndex, search_edismax, search_fielded)
from lucene_solr_old_spark.plans.query import execute  # noqa: E402
from lucene_solr_old_spark.plans.surround import surround_search  # noqa: E402
from lucene_solr_old_spark.plans.xml import xml_search  # noqa: E402
from lucene_solr_old_spark.operators.batch import batch_search  # noqa: E402
from lucene_solr_old_spark.operators.indexer import (  # noqa: E402
    build_index, compress_index)
from lucene_solr_old_spark.operators.merge import (  # noqa: E402
    delete_docs, merge_many)
from lucene_solr_old_spark.sources.pages import (  # noqa: E402
    PAGES_SCHEMA, gen_pages)

BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plan_fingerprints.json")
KINDS = ("exchange", "window", "join", "python", "take_ordered", "scan")
QUERY = "running meetings caresses"
BATCH = [(0, "running meetings", "OR"), (1, "caresses ponies", "AND"),
         (2, "relational hopeful running", "OR"),
         (3, "running running meetings", "OR")]
PHRASE = "aad aaeevnqlbaa"
BOOL = "+running meetings^2 -caresses"
XML = ('<BooleanQuery fieldName="contents">'
       '<Clause occurs="should"><TermQuery>run</TermQuery></Clause>'
       '<Clause occurs="should"><TermsQuery minimumNumberShouldMatch="2">'
       'meetings caresses ponies</TermsQuery></Clause>'
       '<Clause occurs="mustnot"><TermQuery>hope</TermQuery></Clause>'
       '</BooleanQuery>')
DISMAX = ('<DisjunctionMaxQuery tieBreaker="0.1" fieldName="contents">'
          '<TermQuery>run</TermQuery>'
          '<TermsQuery>meetings caresses</TermsQuery>'
          '</DisjunctionMaxQuery>')


def _kind(node: str) -> str | None:
    if node in ("Exchange", "BroadcastExchange"):
        return "exchange"
    if node == "Window":
        return "window"
    if node.endswith("Join") or node == "CartesianProduct":
        return "join"
    if "Python" in node or "InPandas" in node or "InArrow" in node:
        return "python"
    if node == "TakeOrderedAndProject":
        return "take_ordered"
    if "Scan" in node:
        return "scan"
    return None


def _walk(node, counts: dict[str, int]) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _walk(node.executedPlan(), counts)  # the final plan
    if name.endswith("QueryStage"):
        # a stage's plan is not a child; a cached relation's build plan
        # (under InMemoryTableScan) is neither, so it is not counted
        return _walk(node.plan(), counts)
    kind = _kind(name)
    if kind:
        counts[kind] += 1
    children = node.children().iterator()
    while children.hasNext():
        _walk(children.next(), counts)


def plan_counts(make) -> dict[str, int]:
    """Call ``make()`` and count node kinds in the executed physical plan
    of the last statement a collector ran, or else of the frame it
    returns, collected."""
    seen, collect = [], S._collect
    S._collect = lambda statement: seen.append(statement) or collect(
        statement)
    try:
        df = make()
    finally:
        S._collect = collect
    if seen:
        df = seen[-1]
    else:
        df.collect()
    counts = dict.fromkeys(KINDS, 0)
    _walk(df._jdf.queryExecution().executedPlan(), counts)
    return counts


def entry_points(df, plain, comp, mfi) -> dict:
    first = S.search_or(plain, QUERY, k=5).collect()
    after = (float(first[-1]["score"]), first[-1]["key"])
    # materialised, so only delete_docs' own nodes are counted
    deleted = (df.select(df["url"].alias("key")).orderBy("key").limit(20)
               .localCheckpoint())
    return {
        # default num_segments: a 4-segment build would match ``plain``'s
        # cached plan and count nothing
        "build_index": lambda: build_index(
            df, persist_termdoc=False).postings,
        "build_index_route_none": lambda: build_index(
            df, route="none", persist_termdoc=False).postings,
        "build_index_offsets": lambda: build_index(
            df, analyzer="ws_stop", with_offsets=True,
            persist_termdoc=False).postings,
        "merge_many": lambda: merge_many(plain, [[0, 1], [2, 3]]).postings,
        "delete_docs": lambda: delete_docs(plain, deleted).postings,
        "search_or": lambda: S.search_or(plain, QUERY, k=10),
        "search_and": lambda: S.search_and(plain, "running meetings", k=10),
        "search_dismax": lambda: S.search_dismax(plain, QUERY, k=10,
                                                 tie_breaker=0.3),
        "search_after": lambda: S.search_after(plain, QUERY, 5, *after),
        "wand_search_or": lambda: W.wand_search(comp, QUERY, k=10),
        "wand_search_and": lambda: W.wand_search(
            comp, "running meetings", k=10, mode="AND"),
        "batch_search": lambda: batch_search(plain, BATCH, k=10),
        "batch_wand_search": lambda: W.batch_wand_search(comp, BATCH, k=10),
        "search_phrase": lambda: S.search_phrase(plain, PHRASE, k=10),
        "search_phrase_slop": lambda: S.search_phrase(
            plain, "aad aaferqwx aad", k=10, slop=2),
        "span_near": lambda: SP.span_near(plain, PHRASE, slop=2, k=10),
        "multi_phrase": lambda: SP.multi_phrase(
            plain, [["aad"], ["aaeevnqlbaa", "aaferqwx"]], k=10),
        "search_tfidf": lambda: search_tfidf(plain, QUERY, k=10),
        "search_tfidf_and": lambda: search_tfidf(
            plain, "running meetings", k=10, mode="AND"),
        "search_lmdirichlet": lambda: search_lmdirichlet(plain, QUERY, k=10),
        "more_like_this": lambda: more_like_this(
            plain, first[0]["key"], k=10, min_term_freq=1, min_doc_freq=1,
            max_query_terms=5),
        "execute": lambda: execute(plain, BOOL, k=10),
        "xml_search": lambda: xml_search(plain, XML, k=10),
        "xml_dismax": lambda: xml_search(plain, DISMAX, k=10),
        "surround_and": lambda: surround_search(plain, "run AND meet", k=10),
        "surround_or": lambda: surround_search(plain, "run OR meet", k=10),
        "surround_not": lambda: surround_search(plain, "run NOT caress",
                                                k=10),
        "search_fielded": lambda: search_fielded(
            mfi, "raw:running meetings", k=10),
        "search_edismax": lambda: search_edismax(
            mfi, "running meetings", {"body": 1.0, "raw": 2.0}, tie=0.1,
            mm="50%", k=10, pf={"body": 1.5}),
    }


def build(spark):
    df = spark.createDataFrame(gen_pages(500, seed=5), schema=PAGES_SCHEMA)
    plain = build_index(df, num_segments=4).persist()
    comp = compress_index(plain).persist()
    comp.postings.count()
    # a second field over the same pages, analysed without stemming
    raw = build_index(df, num_segments=4, analyzer="ws_lower").persist()
    mfi = MultiFieldIndex({"body": plain, "raw": raw}, default_field="body")
    return df, plain, comp, mfi


@pytest.fixture(scope="module")
def fingerprints(fingerprint_indexes):
    return {name: plan_counts(make) for name, make
            in entry_points(*fingerprint_indexes).items()}


def test_plan_fingerprints_do_not_grow(fingerprints):
    with open(BASELINE) as f:
        ceiling = json.load(f)
    assert set(fingerprints) == set(ceiling)
    grown = {name: (kind, ceiling[name][kind], got[kind])
             for name, got in fingerprints.items() for kind in KINDS
             if got[kind] > ceiling[name][kind]}
    assert not grown, grown


if __name__ == "__main__":
    from lucene_solr_old_spark.session import get_spark

    spark = get_spark("plan-fingerprints", master="local[4]",
                      shuffle_partitions=8)
    print(json.dumps({name: plan_counts(make) for name, make
                      in entry_points(*build(spark)).items()}, indent=1))
    spark.stop()
