"""Span queries (full algebra), MultiPhraseQuery + CommonTermsQuery.

The positional queries here run on search.py's one positional scorer: the
slot-position gather, a freq, and BM25 on that freq with the summed-idf
weight.

  * span_query — general span-tree execution: term / near(ordered,
    unordered) / or / not / first nodes, one slot per distinct leaf term,
    evaluated per doc by the EXACT per-doc kernels ported from the
    reference (``search/spans/NearSpansOrdered.java:202-354``,
    ``NearSpansUnordered.java:163-211``, ``SpanOrQuery.java``,
    ``SpanNotQuery.java``, ``SpanFirstQuery.java`` — see
    functions/phrasepos.py).  Scoring = ``SpanScorer.setFreqCurrentDoc``:
    freq = sum of 1/(matchWidth+1) over emitted matches, BM25 with the
    summed-idf weight over the tree's distinct terms
    (``spans/SpanWeight.java:55-63`` builds termStats from
    ``query.extractTerms`` — a Set).
  * span_near — SpanNearQuery over single-term clauses (the common case),
    expressed through span_query.
  * multi_phrase — MultiPhraseQuery: the exact phrase with a term set per
    slot.
  * common_terms_query — ``lucene/queries/.../CommonTermsQuery.java``: the
    query's terms are split at a document-frequency threshold; low-df terms
    drive matching (disjunction), high-df (stopword-like) terms only add
    score to docs already matched by a low-df term — the classic
    head-term-cost dodge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.tokenizer import get_analyzer
from .indexer import InvertedIndex
from .search import (_build, _freq_scores, _no_docs, _phrase_frame, _Scorer,
                     _slot_positions, _source, _Sql, _term_set_docs, _topk,
                     _udf_freq, search_terms)

__all__ = ["span_near", "span_query", "span_score_frame",
           "common_terms_query", "multi_phrase"]


def _tree_terms(node) -> list[str]:
    """All leaf terms of a span tree, in-order (duplicates preserved)."""
    kind = node[0]
    if kind == "term":
        return [node[1]]
    if kind == "near":
        return [t for c in node[1] for t in _tree_terms(c)]
    if kind == "or":
        return [t for c in node[1] for t in _tree_terms(c)]
    if kind == "not":
        # extractTerms of SpanNotQuery includes ONLY the include side
        # (exclusion terms don't contribute to the weight,
        # ``SpanNotQuery.java extractTerms``) — but the exclude side's
        # postings are still needed for evaluation
        return _tree_terms(node[1])
    if kind in ("first", "posrange"):
        return _tree_terms(node[1])
    raise ValueError(f"unknown span node {node[0]!r}")


def _eval_terms(node) -> list[str]:
    """All terms needed to EVALUATE the tree (includes 'not' excludes)."""
    if node[0] == "not":
        return _eval_terms(node[1]) + _eval_terms(node[2])
    if node[0] == "term":
        return [node[1]]
    if node[0] in ("first", "posrange"):
        return _eval_terms(node[1])
    return [t for c in node[1] for t in _eval_terms(c)]


def _required_terms(node) -> set[str]:
    """Terms that MUST occur for the tree to match (candidate pruning:
    the conjunctive leapfrog Lucene gets from sub-span iteration)."""
    kind = node[0]
    if kind == "term":
        return {node[1]}
    if kind == "near":
        return set().union(*[_required_terms(c) for c in node[1]])
    if kind == "or":
        return set()  # any one suffices
    if kind == "not":
        return _required_terms(node[1])
    if kind in ("first", "posrange"):
        return _required_terms(node[1])
    raise ValueError(f"unknown span node {node[0]!r}")


def _span_tree_udf(tree, names: list[str], f32: bool = True):
    """Arrow-batched span-tree kernel over a document's (slot, pos) hits;
    slot i holds the positions of the leaf term ``names[i]``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.phrasepos import eval_span_tree, span_freq

    @pandas_udf("double")
    def sfreq(hits_series):
        out = []
        for hits in hits_series:
            iv = {names[h["slot"]]: [(int(p), int(p) + 1) for p in h["pos"]]
                  for h in hits}
            out.append(span_freq(eval_span_tree(tree, iv), f32=f32))
        return pd.Series(out)

    # nondeterministic: evaluated once per row (see _sloppy_pfreq_udf)
    return sfreq.asNondeterministic()


def span_query(index: InvertedIndex, tree, k: int = 10,
               precision: str = "float32") -> DataFrame:
    """Execute a span-query tree; top-k (key, score).

    tree = ("term", t) | ("near", [children], slop, in_order)
         | ("or", [children]) | ("not", include, exclude)
         | ("first", child, n)      (terms must be pre-analyzed)
    """
    return _topk(_span_scores(index, tree, precision), index, k, precision)


def span_score_frame(index: InvertedIndex, tree,
                     precision: str = "float32") -> DataFrame:
    """(seg, docid, sfreq, score) for a span-query tree — the unsorted
    scoring frame.

    Plan: the shared positional gather of search.py — one postings scan
    pruned to the tree's leaf terms (``not`` excludes included), one slot
    per distinct term -> candidate docs holding every REQUIRED term (the
    conjunctive pruning Lucene's sub-span leapfrog does) -> Arrow kernel
    evaluates the tree -> BM25 on the span freq with the summed-idf
    weight.

    Scale bound (BENCH_r03 measures this at 1.2M docs): the candidate
    frame is distributed (one groupBy partition per shuffle slot) and the
    Python kernel consumes it in Arrow batches capped at
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` = 10k docs
    (session.py), so per-task memory is <= batch * max-doclen positions
    regardless of how common the query terms are; worst case (all-stopword
    trees, empty required set) degrades to a scan of the rarest-term df,
    the same bound as the reference's leapfrog.
    """
    return _build(_span_scores(index, tree, precision))


def _span_scores(index: InvertedIndex, tree, precision: str) -> _Sql:
    """span_score_frame's plan, built by the statement that reads it."""
    if not index.with_positions:
        raise ValueError("index built without positions")
    names = sorted(set(_eval_terms(tree)))
    weight_terms = sorted(set(_tree_terms(tree)))
    scorer = _Scorer(index, weight_terms, precision)
    docs = _slot_positions(
        index, scorer, [[t] for t in names],
        scorer.summed_weight([scorer.df(t) for t in weight_terms]),
        [names.index(t) for t in _required_terms(tree)])
    udf = _span_tree_udf(tree, names, f32=(precision != "float64"))
    return _freq_scores(_udf_freq(docs, udf), scorer, "sfreq")


def span_near(index: InvertedIndex, query_text: str, slop: int = 2,
              in_order: bool = True, k: int = 10,
              precision: str = "float32") -> DataFrame:
    """SpanNearQuery over the analyzed terms of ``query_text`` — exact
    NearSpansOrdered / NearSpansUnordered semantics via span_query."""
    terms = [t.term for t in get_analyzer(index.analyzer)(query_text)]
    if len(terms) < 2:
        return search_terms(index, query_text, "OR", k, precision=precision)
    tree = ("near", [("term", t) for t in terms], slop, in_order)
    return span_query(index, tree, k, precision)


def common_terms_query(index: InvertedIndex, query_text: str,
                       max_df_ratio: float = 0.3, k: int = 10,
                       precision: str = "float32") -> DataFrame:
    """Split terms at df/maxDoc > max_df_ratio; low-df terms form the
    matching disjunction, high-df terms contribute score only to docs the
    low-df group already matched.  Falls back to a plain disjunction when
    every term is high-df (CommonTermsQuery's allTermsRequired=false path).
    """
    terms = [t.term for t in get_analyzer(index.analyzer)(query_text)]
    if not terms:
        return _topk(_no_docs(index, precision), index, k, precision)
    max_doc, _ = index.collection_stats()
    tstats = index.term_stats(terms)
    low = sorted({t for t in terms
                  if tstats.get(t, (0, 0))[0] <= max_df_ratio * max_doc})
    high = sorted(set(terms) - set(low))
    if not low:
        low, high = high, []

    per_doc = _term_set_docs(index, low, precision)
    if high:
        # semi-restricted join: high-df postings only evaluated for docs in
        # the (small) low-df match set
        frames: dict = {}
        per_doc = _Sql(f"""
            SELECT seg, docid, l.score + coalesce(h.score, 0.0D) AS score
            FROM {_source(per_doc, frames)} l LEFT JOIN {_source(
                _term_set_docs(index, high, precision), frames)} h
            USING (seg, docid)""", frames)
    return _topk(per_doc, index, k, precision)


def multi_phrase(index: InvertedIndex, slots: list[list[str]],
                 k: int = 10, precision: str = "float32") -> DataFrame:
    """MultiPhraseQuery (``search/MultiPhraseQuery.java``): an exact phrase
    where each position slot accepts a SET of terms (e.g. synonyms):
    slots = [["new"], ["york", "jersey"]].  Each slot's texts are
    analysed, and the phrase scores through the exact-phrase plan with a
    term set per slot; weight = idf summed over every term of every slot
    (MultiPhraseQuery weights with idfExplain over the flat term array).
    """
    if not index.with_positions:
        raise ValueError("index built without positions")
    analyzer = get_analyzer(index.analyzer)
    norm_slots = [
        sorted({t.term for txt in slot for t in analyzer(txt)})
        for slot in slots
    ]
    if not all(norm_slots):  # a slot with no term never matches
        return _topk(_no_docs(index, precision), index, k, precision)
    scored = _phrase_frame(index, norm_slots, list(range(len(norm_slots))),
                           precision)
    return _topk(scored, index, k, precision)
