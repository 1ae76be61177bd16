"""Query execution: the reference's scorer algebra as Spark SQL plans.

Every term-query entry point — ``search_terms`` (``search_or``/
``search_and``), ``search_dismax``, ``search_after``, ``count_query``,
``batch_search`` (batch.py), the TF-IDF, SweetSpot, LM-Dirichlet, DFR and
IB searches (tfidf.py), and the term clauses of the query parsers
(plans/) and operators, through :func:`_term_set_docs` — runs one
pipeline, the reference's ``IndexSearcher`` -> ``Weight`` -> ``Scorer``
-> ``TopScoreDocCollector`` (SURVEY.md §2.5, §3.3); the block-max
``wand_search``/``batch_wand_search`` (wand.py) share its parse and
weight steps.  A single query is a workload of one:

  * parse    -> :func:`_parse` analyses ``[(qid, text, mode)]`` with the
    index's analyzer.  A repeated term is a repeated clause: it scores once
    per clause and counts per clause for AND / minNrShouldMatch
    (``BooleanQuery.java`` clause list, ``MinShouldMatchSumScorer.java:36``).
    A query that analyses to nothing matches nothing.  A parser's term
    clause is a term SET: a repeated term scores once.
  * similarity -> the ``Similarity`` the scorer plugs in (``search/
    similarities/``): ``weights`` gives each (query, term) weight on the
    driver from df/ttf, the collection stats, the query's clauses and its
    boost (the ``SimWeight``); ``score`` is the per-posting SQL expression
    of (weight, freq, norm byte) (the ``SimScorer``); ``coord`` scales a
    document by matched / total clauses.  :class:`_BM25` is the default;
    tfidf.py holds the others.
  * weight   -> :class:`_Scorer` is the only place the collection stats,
    term stats, weights and norm tables are computed: SQL expressions and
    literals for the relational plan, NumPy arrays for the kernel.
  * score    -> :func:`_scored_docs` is the relational core: one
    term-pruned postings scan, fanned out to the queries holding each term
    through array literals carrying each (query, term) weight, scored by
    the similarity (BM25: ``weightValue * freq / (freq + cache[norm])``,
    ``BM25Similarity.java:233-238``), and aggregated per (qid, seg,
    docid).  The aggregate is the plain sum — coord == 1 for BM25
    (``Similarity.java:122-124``), BooleanScorer's bucket sum
    (``BooleanScorer.java:61,143-156``) — or DisjunctionMaxQuery's
    ``max + tie*(sum-max)``.  AND and minNrShouldMatch are one HAVING
    ``nmatched >= need`` (the leapfrog ConjunctionScorer's semantics,
    ``ConjunctionScorer.java:28-120``); MUST_NOT is a left-anti join
    (``ReqExclScorer.java``).  wand.py's per-segment kernel is the other
    scorer over the same parsed workload and scorer state.
  * compound -> :func:`_compound` combines child score plans — the
    classic, XML and surround parsers' clauses and edismax's per-field
    and per-word plans — as BooleanQuery or DisjunctionMaxQuery: one
    UNION ALL aggregated by the document keys with the must /
    minNrShouldMatch HAVING, one LEFT ANTI JOIN of the MUST_NOT doc sets,
    and :func:`_cut`, all in one statement.  :func:`_docs_where` is the
    non-scoring doc set of an SQL term predicate (constant-score
    multi-term clauses, filters, MUST_NOT).
  * collect  -> the per-leaf PQ + merge of
    ``TopScoreDocCollector.java:54-61`` (ties to the lower doc key), in
    two rounds like Solr's distributed search (SURVEY.md §3.3): the
    statement (:func:`_cut`) keeps each segment's top k by (score DESC,
    docid ASC) through a ``row_number`` window and reads no key, which is
    exact because docids ascend with keys inside a segment; the driver
    then reads the survivors' keys from the index's resident keys
    (``InvertedIndex.doc_keys``), merges the segments by (score DESC, key
    ASC) and returns a local frame.  :func:`_topk` collects one query,
    optionally over the hits passing a seg/docid/score predicate (the
    searchAfter cursor, ``IndexSearcher.java:234-250``), at most k x
    segments rows; :func:`_topk_per_qid` collects a workload per (qid,
    seg), at most ``_TOPK_ROWS`` rows per statement, each qid's rows
    contiguous and rank-ordered.  Either runs its statement when called:
    the entry points are eager.  ``count()`` is TotalHitCountCollector.

Positional queries — PhraseQuery exact or sloppy, MultiPhraseQuery,
NGramPhraseQuery (here) and the span trees (spans.py, multifield.py) —
share one scorer:

  * gather   -> :func:`_slot_positions` reads the postings once and
    collects each candidate document's (slot, positions) hits; a phrase
    slot holds one term, or a term set for MultiPhraseQuery.
    :func:`_has_slots` keeps the documents holding every required slot.
  * freq     -> the aligned-start count of ``ExactPhraseScorer.java:26-33``
    in Catalyst, or the exact SloppyPhraseScorer / span kernels of
    functions/phrasepos.py.
  * score    -> ``_Scorer.score`` on that freq with
    :meth:`_Scorer.summed_weight`, the idf summed over the query's terms
    (``BM25Similarity.idfExplain(TermStatistics[])``).

Building: each plan is Spark SQL text, built by :func:`_plan` with ONE
``spark.sql`` call over temporary views of its input frames, each frame
registered once and named by the frame itself (:func:`_ref`), so a
statement may read two indexes.  A plan that feeds another, as clauses
feed a compound and scored docs feed :func:`_topk`, is an :class:`_Sql`
its reader inlines, so a query of any number of clauses and its
collector's cut are one statement.  Only a Python UDF or ``applyInPandas``
step (a sloppy phrase, a span tree) is built through the DataFrame API;
it enters the statement as a frame.  Chained DataFrame calls, where every
``F.col``, select element and lambda is a py4j round trip, cost a query
149-1125 round trips and 72-580 ms of driver time on a 4-core host; a
statement costs 5-6 of them, and a UDF or ``applyInPandas`` step about
40-50 more.

Scoring: per-term scores are computed in Spark float32 arithmetic (same IEEE
ops as the Java engine).  Multi-term sums aggregate in float64 then round to
float32 — the reference's own sum order is scorer-implementation-dependent
(BS1 vs BS2), so sums are only reproducible up to addition order; ranks are
tie-broken by doc key.  ``precision="float64"`` is the oracle-precision twin
(see below).
"""

from __future__ import annotations

import json
import math
import uuid
import weakref
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions.bm25 import Bm25Stats
from ..functions.smallfloat import byte315_to_float
from ..functions.tokenizer import get_analyzer
from .indexer import InvertedIndex

__all__ = [
    "term_score_frame", "phrase_score_frame", "search_terms", "search_or",
    "search_and", "search_dismax", "search_phrase", "count_query",
    "search_after", "ngram_phrase_search",
]


def _qterms(index: InvertedIndex, query_text: str) -> list[str]:
    """Analyze query text with the index's own analyzer (Lucene parses
    queries through the per-field analyzer)."""
    return [t.term for t in get_analyzer(index.analyzer)(query_text)]


def _phrase_terms(index: InvertedIndex,
                  query_text: str) -> tuple[list[str], list[int]]:
    """Analyzed phrase terms and their offsets — phrase queries use analyzed
    positions as term offsets (``QueryParser`` calls ``PhraseQuery.add(term,
    position)`` with position increments, so stopword holes in the query
    text widen the phrase — ``PhraseQuery.java:128-135``)."""
    tokens = get_analyzer(index.analyzer)(query_text)
    return [t.term for t in tokens], [t.pos - tokens[0].pos for t in tokens]


def _stype(precision: str) -> str:
    return "double" if precision == "float64" else "float"


def _dtype(precision: str):
    return np.float64 if precision == "float64" else np.float32


# A plan is SQL text (see "Building" above), and so are its literals:
# strings through :func:`_sql_str`, numbers through :func:`_sql_num`
# (``repr`` of a float round-trips exactly through Java's double parser),
# and the tables that grow with the workload or are read per posting (the
# query fan-out, the per-query maps, the norm table) as one JSON string
# each that ``from_json`` types and the optimiser folds into a literal.
# As SQL ``array``/``map`` text, with a struct and a cast per element, the
# same table cost up to 51-57 ms of analysis per 16-query batch; as a
# NumPy array literal, pyspark hands it to the JVM one py4j call per
# element (25-35 ms for a 256-entry norm table).  Table values are
# rounded to the score type in NumPy first, as the SQL cast rounds.  A map
# or array literal is referenced, not written, by the generated code, so
# a weight carried in one keeps the code of a plan shape the same from
# one query to the next.

_SQL_ESCAPES = str.maketrans({
    "\\": "\\\\", "'": "\\'",
    # the statement formatter reads braces and the parser substitutes
    # ``${...}`` variables even inside a literal: write them as escapes
    "{": "\\u007B", "}": "\\u007D", "$": "\\u0024"})


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.translate(_SQL_ESCAPES) + "'"


def _sql_num(x: float, stype: str) -> str:
    v = float(x)
    text = f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
    return f"CAST({text} AS {stype})"


def _sql_in(col: str, values: list[str]) -> str:
    """``col IN (...)`` over a literal list: Parquet receives it as a
    pushed ``In`` filter.  An empty list is ``false``."""
    if not values:
        return "false"
    return f"{col} IN ({', '.join(_sql_str(v) for v in values)})"


def _json_sql(value, ddl: str) -> str:
    """``value`` as a literal of Spark type ``ddl``: one JSON string that
    ``from_json`` types and the optimiser folds into a literal."""
    return f"from_json({_sql_str(json.dumps(value))}, '{ddl}')"


# frame -> the temporary view it is registered as; (session, view) pairs
# of the frames collected since, dropped by the next statement
_VIEWS: "weakref.WeakKeyDictionary[DataFrame, str]" = \
    weakref.WeakKeyDictionary()
_DEAD_VIEWS: list[tuple] = []


def _view(frame: DataFrame) -> str:
    """The temporary view of ``frame``, registered on its first statement:
    registering a view runs a Spark command (about 5 ms), so the index
    tables, read by every query, pay it once per index object."""
    name = _VIEWS.get(frame)
    if name is None:
        name = f"_fulltext_{uuid.uuid4().hex}"
        frame.createOrReplaceTempView(name)
        _VIEWS[frame] = name
        # a finalizer may run inside a py4j call: it only records the view
        weakref.finalize(frame, _DEAD_VIEWS.append,
                         (frame.sparkSession, name))
    return name


def _ref(frame: DataFrame, frames: dict) -> str:
    """``frame`` as a placeholder of a statement over ``frames``, keyed by
    the frame itself: one statement may read two indexes' tables, or two
    Python steps, and no frame takes another's place."""
    name = f"f{id(frame)}"
    frames[name] = frame
    return "{" + name + "}"


def _plan(sql: str, **frames: DataFrame) -> DataFrame:
    """The frame of the Spark SQL statement ``sql``, where ``{name}``
    stands for ``frames[name]`` (literals escape their braces)."""
    spark = next(iter(frames.values())).sparkSession
    while True:
        try:
            session, name = _DEAD_VIEWS.pop()
        except IndexError:
            break
        if session is spark:
            spark.catalog.dropTempView(name)
    return spark.sql(sql.format(**{k: _view(f) for k, f in frames.items()}))


class _Sql(NamedTuple):
    """A plan not built yet: the SQL text of a query over ``frames``.  A
    statement reading it inlines the text, so a plan and its collector are
    built as one statement."""
    text: str
    frames: dict


def _build(plan: "_Sql | DataFrame | None") -> DataFrame | None:
    """The frame of ``plan`` (None for None)."""
    if plan is None or isinstance(plan, DataFrame):
        return plan
    return _plan(plan.text, **plan.frames)


def _source(plan: "_Sql | DataFrame", frames: dict) -> str:
    """``plan`` as a FROM item: a subquery of its text, or a frame
    argument; adds the frames it reads to ``frames``."""
    if isinstance(plan, DataFrame):
        return _ref(plan, frames)
    frames.update(plan.frames)
    return f"({plan.text})"


# --- float64 "oracle precision" variant ------------------------------------
# Same BM25 with the same norm QUANTIZATION (doc length still passes through
# the lossy byte), but all arithmetic in float64 with a fixed operation
# order, so an ANSI-SQL engine (the DuckDB correctness oracle) can reproduce
# scores bit-for-bit up to libm ulp differences.  The default float32 path
# is the rank-identity path vs the reference.

LQ64: list[float] = [
    float("inf") if b == 0 else 1.0 / (float(byte315_to_float(b)) * float(byte315_to_float(b)))
    for b in range(256)
]


def idf64(df: int, max_doc: int) -> float:
    return math.log(1.0 + (max_doc - df + 0.5) / (df + 0.5))


def cache64(avg_dl: float, k1: float = 1.2, b: float = 0.75) -> list[float]:
    # operation order mirrored in the oracle SQL: k1*((1-b) + (b*lq)/avgdl)
    return [k1 * ((1.0 - b) + (b * lq) / avg_dl) for lq in LQ64]


def _int_type(values) -> str:
    """INT, or BIGINT when a value needs it (the type a SQL integer
    literal takes)."""
    return "int" if all(-2**31 <= v < 2**31 for v in values) else "bigint"


class _Query(NamedTuple):
    """One analysed query of a workload."""
    qid: int
    mults: dict[str, int]  # distinct term -> clause multiplicity
    need: int              # clauses a doc must match: all of them for AND
    boost: float = 1.0


def _mults(terms: list[str]) -> dict[str, int]:
    """The clauses of a term list: distinct term -> multiplicity."""
    return {t: terms.count(t) for t in sorted(set(terms))}


def _parse(index: InvertedIndex, queries: list[tuple],
           min_should_match: int = 0) -> list[_Query]:
    """Analyse a workload ``[(qid, text, mode)]`` (mode "OR" or "AND");
    queries that analyse to no term drop out."""
    analyzer = get_analyzer(index.analyzer)
    out = []
    for qid, text, mode in queries:
        terms = [t.term for t in analyzer(text)]
        if terms:
            need = (len(terms) if mode.upper() == "AND"
                    else max(1, min_should_match))
            out.append(_Query(qid, _mults(terms), need))
    return out


def _no_docs(index: InvertedIndex, precision: str) -> _Sql:
    """The scored docs of a workload that matches nothing (its frames name
    the postings only for the session a statement of it alone runs in)."""
    frames: dict = {}
    _ref(index.postings, frames)
    return _Sql(f"""SELECT CAST(NULL AS INT) AS qid, CAST(NULL AS INT) AS seg,
        CAST(NULL AS INT) AS docid, CAST(NULL AS {_stype(precision)}) AS score,
        CAST(NULL AS BIGINT) AS nmatched WHERE false""", frames)


class _BM25:
    """BM25Similarity (``BM25Similarity.java:233-238``), the default
    similarity: weightValue = boost * idf * (k1+1), scored ``weightValue *
    freq / (freq + cache[norm])`` with the 256-entry norm cache."""
    coord = False

    def weights(self, sc: "_Scorer", mults: dict[str, int],
                boost: float) -> dict[str, float]:
        if sc.precision == "float64":
            return {t: boost * (idf64(sc.df(t), sc.stats.max_doc) * 2.2)
                    for t in mults}
        return {t: float(sc.stats.weight_value(sc.df(t), boost))
                for t in mults}

    def score(self, sc: "_Scorer", w: str, freq: str, norm: str) -> str:
        return f"(({w} * {freq}) / ({freq} + " \
               f"{sc.per_norm(sc.bm25_cache, norm)}))"


class _Scorer:
    """Scoring state of a query or workload under one similarity, in
    either precision: SQL expressions for the relational plan, NumPy
    arrays for the kernel."""

    def __init__(self, index: InvertedIndex, terms: list[str],
                 precision: str = "float32", boost: float = 1.0,
                 similarity=None):
        max_doc, sum_ttf = index.collection_stats()
        index.read_resident()
        self.precision = precision
        self.sim = similarity = similarity or _BM25()
        self.stats = Bm25Stats(max_doc, sum_ttf)
        self.tstats = index.term_stats(terms)
        self._sqltype = _stype(precision)
        self._dtype = _dtype(precision)
        if precision == "float64":
            self.bm25_cache = cache64(sum_ttf / max_doc if max_doc else 1.0)
        else:
            self.bm25_cache = [float(c) for c in self.stats.cache]
        self._weights = similarity.weights(
            self, dict.fromkeys(set(terms), 1), boost)

    def df(self, term: str) -> int:
        return self.tstats.get(term, (0, 0))[0]

    def ttf(self, term: str) -> int:
        return self.tstats.get(term, (0, 0))[1]

    def lit(self, x: float) -> str:
        """``x`` as an SQL literal of the score type."""
        return _sql_num(x, self._sqltype)

    def per_norm(self, table: list[float], norm: str) -> str:
        """``table[norm]``: a 256-entry per-norm-byte lookup."""
        # element_at is 1-based; norm byte is 0..255
        values = [float(v) for v in np.asarray(table, self._dtype)]
        return (f"element_at({_json_sql(values, f'array<{self._sqltype}>')}"
                f", {norm} + 1)")

    def fanout_map(self, workload: list[_Query]) -> str:
        """term -> array<struct<qid, mult, w>>: the queries holding each
        term, its clause multiplicity and the (query, term) weight."""
        holders: dict[str, list[dict]] = {}
        for q in workload:
            ws = self.sim.weights(self, q.mults, q.boost)
            for t, m in q.mults.items():
                holders.setdefault(t, []).append(
                    {"qid": int(q.qid), "mult": m,
                     "w": float(self._dtype(ws[t]))})
        qid = _int_type(int(q.qid) for q in workload)
        return _json_sql(holders, f"map<string, array<struct<qid: {qid}, "
                                  f"mult: int, w: {self._sqltype}>>>")

    def slot_fanout(self, slots: list[list[str]], weight: float) -> str:
        """term -> array<struct<slot, w>>: the slots holding each term,
        each carrying the query's ``weight``."""
        holders: dict[str, list[dict]] = {}
        w = float(self._dtype(weight))
        for i, slot in enumerate(slots):
            for t in sorted(set(slot)):
                holders.setdefault(t, []).append({"slot": i, "w": w})
        return _json_sql(holders, "map<string, array<struct<slot: int, "
                                  f"w: {self._sqltype}>>>")

    def score(self, weight: str, freq: str = "freq",
              norm: str = "norm") -> str:
        return self.sim.score(self, weight,
                              f"CAST({freq} AS {self._sqltype})", norm)

    def kernel_state(self):
        """(weights, cache, dtype) of the NumPy block-max kernel."""
        dtype = self._dtype
        return ({t: dtype(w) for t, w in self._weights.items()},
                np.asarray(self.bm25_cache, dtype=dtype), dtype)

    def summed_weight(self, dfs: list[int], boost: float = 1.0) -> float:
        """The weightValue of a positional query: idf summed over ``dfs`` in
        order, times (k1+1) and ``boost``, accumulated in this precision
        (``BM25Similarity.idfExplain(TermStatistics[])``).  A plan carries
        it in its slot fan-out (:meth:`slot_fanout`): as a float literal,
        Spark would write it into the generated code, and compile new code
        for every phrase with new terms."""
        if self.precision == "float64":
            s = 0.0
            for df in dfs:
                s = s + idf64(df, self.stats.max_doc)
            w = s * 2.2
        else:
            s32 = np.float32(0.0)
            for df in dfs:
                s32 = s32 + self.stats.idf(df)
            w = float(s32 * (self.stats.k1 + np.float32(1.0)))
        return w * float(boost)


def term_score_frame(index: InvertedIndex, terms: list[str],
                     boost: float = 1.0,
                     precision: str = "float32") -> tuple[DataFrame, _Scorer]:
    """(seg, term, docid, freq, norm, score) for every posting of ``terms``.

    score = weightValue * freq / (freq + cache[norm])
    (``BM25Similarity.java:233-238``), weightValue per-term from global df.
    """
    scorer = _Scorer(index, terms, precision, boost)
    weights = "map(" + ", ".join(f"{_sql_str(t)}, {scorer.lit(w)}" for t, w
                                 in scorer._weights.items()) + ")"
    return _plan(f"""
        SELECT seg, term, p.docid, p.freq, p.norm,
               {scorer.score(f'{weights}[term]', 'p.freq', 'p.norm')}
                 AS score
        FROM (SELECT seg, term, explode(postings) AS p FROM {{postings}}
              WHERE {_sql_in('term', sorted(set(terms)))})""",
                 postings=index.postings), scorer


def _per_query(workload: list[_Query], value) -> str:
    """``value(q)`` of the query a row belongs to: one literal when every
    query of ``workload`` shares it, else a qid -> value map literal."""
    values = {int(q.qid): int(value(q)) for q in workload}
    if len(set(values.values())) == 1:
        return str(next(iter(values.values())))
    entries = [{"k": qid, "v": v} for qid, v in values.items()]
    return "map_from_entries(" + _json_sql(
        entries, f"array<struct<k: {_int_type(values.keys())}, v: int>>"
    ) + ")[qid]"


def _scored_docs(index: InvertedIndex, workload: list[_Query],
                 precision: str = "float32", *, similarity=None,
                 tie_breaker: float | None = None,
                 exclude_text: str | None = None,
                 keys: tuple[str, ...] = ("qid", "seg", "docid"),
                 per_qid: bool = False) -> _Sql:
    """The relational core: (qid, seg, docid, score, nmatched) for every
    document a query of ``workload`` matches, ``nmatched`` its matched
    clauses (``keys=("seg", "docid")`` drops qid for a workload of one).
    The score is the sum of the clause scores under ``similarity`` (BM25
    by default; times matched / total clauses for a coord similarity),
    or ``max + tie_breaker * (sum - max)`` when a tie-breaker is given
    (DisjunctionMaxQuery); documents matching ``exclude_text`` are
    dropped (MUST_NOT).

    The scored postings are hash-partitioned by segment before the
    aggregate, or by qid with ``per_qid``, for a caller that collects per
    qid: the aggregate and the collector's (qid?, seg) window then share
    that one shuffle.  Its skew bound is one segment's (one query's)
    postings rows in one task, where a (qid, seg, docid) shuffle put only
    one query's matched documents of a segment in a task."""
    if not workload:
        return _no_docs(index, precision)
    terms = sorted({t for q in workload for t in q.mults})
    scorer = _Scorer(index, terms, precision, similarity=similarity)
    st = scorer._sqltype
    frames: dict = {}
    postings = _ref(index.postings, frames)
    # fan each term's postings out to the queries holding it BEFORE the
    # postings explode: one map lookup per (seg, term) row; a repeated
    # clause scores once per clause: the term score times mult
    score = f"sum(tscore * CAST(mult AS {st}))"
    if tie_breaker is not None:
        score = (f"(max(tscore) + ({_sql_num(tie_breaker, st)} * "
                 f"({score} - max(tscore))))")
    if scorer.sim.coord:
        n = _per_query(workload, lambda q: sum(q.mults.values()))
        score = f"({score} * (CAST(sum(mult) AS {st}) / CAST({n} AS {st})))"
    sql = f"""
        SELECT {', '.join(keys)}, {score} AS score, sum(mult) AS nmatched
        FROM (SELECT qid, seg, mult, w, p.docid AS docid,
                     {scorer.score('w', 'p.freq', 'p.norm')} AS tscore
              FROM (SELECT qid, seg, mult, w, explode(postings) AS p
                    FROM (SELECT seg, postings,
                                 inline({scorer.fanout_map(workload)}[term])
                          FROM {postings}
                          WHERE {_sql_in('term', terms)}))
              DISTRIBUTE BY {'qid' if per_qid else 'seg'})
        GROUP BY {', '.join(keys)}"""
    if any(q.need > 1 for q in workload):
        sql = f"""SELECT * FROM ({sql})
            WHERE nmatched >= {_per_query(workload, lambda q: q.need)}"""
    ex_terms = _qterms(index, exclude_text) if exclude_text else []
    if ex_terms:
        sql = f"""SELECT * FROM ({sql}) LEFT ANTI JOIN (
            SELECT DISTINCT seg, docid
            FROM (SELECT seg, explode(postings.docid) AS docid
                  FROM {postings} WHERE {_sql_in('term', ex_terms)}))
            USING (seg, docid)"""
    return _Sql(sql, frames)


def _docs_where(index: InvertedIndex, term_pred: str) -> _Sql:
    """(seg, docid), each once, of the documents holding a term that
    satisfies the SQL predicate ``term_pred``: the non-scoring doc set of
    a multi-term rewrite, a filter or a MUST_NOT clause."""
    frames: dict = {}
    return _Sql(f"""SELECT DISTINCT seg, docid
        FROM (SELECT seg, explode(postings.docid) AS docid
              FROM {_ref(index.postings, frames)} WHERE {term_pred})""",
                frames)


def _boosted(score: str, boost: float, precision: str) -> str:
    """The SQL ``score`` times ``boost``, rounded to the precision's score
    type."""
    stype = _stype(precision)
    if boost != 1.0:
        score = f"{score} * {_sql_num(boost, stype)}"
    return f"CAST({score} AS {stype})"


def _rescored(plan: "_Sql | DataFrame", score: str,
              keys: tuple[str, ...] = ("seg", "docid")) -> _Sql:
    """(keys..., score) of ``plan`` with the SQL ``score`` over its
    columns."""
    frames: dict = {}
    return _Sql(f"SELECT {', '.join(keys)}, {score} AS score "
                f"FROM {_source(plan, frames)}", frames)


def _compound(clauses, precision: str = "float32", *,
              min_should_match: int = 0, tie: float | None = None,
              boost: float = 1.0, keys: tuple[str, ...] = ("seg", "docid")
              ) -> _Sql | None:
    """BooleanQuery / DisjunctionMaxQuery over child score plans, as one
    statement: ``clauses`` is an iterable of ``(occur, plan)``, occur
    ``"must"``, ``"should"`` or ``"must_not"``, and a ``None`` plan
    matches nothing.  The must and should plans (``keys``, score) are one
    UNION ALL grouped by ``keys``: the score is their sum
    (``BooleanScorer.java``), or ``max + tie * (sum - max)``
    (``DisjunctionMaxScorer.java``) when ``tie`` is given, times
    ``boost`` and rounded to the precision's type.  The HAVING keeps the
    documents matching every must clause and ``min_should_match`` should
    clauses (each should row is one matched clause, so a plan may carry
    several per document, as edismax's per-word rows do); the must_not
    plans' keys are one LEFT ANTI JOIN (``ReqExclScorer.java``).
    Returns (keys..., score), or ``None`` when the compound matches
    nothing: no scoring clause, or an empty must clause, which stops a
    lazy ``clauses`` before it builds the rest."""
    cols = ", ".join(keys)
    scoring, excluded, n_must, frames = [], [], 0, {}
    for occur, plan in clauses:
        if occur == "must_not":
            if plan is not None:
                excluded.append(
                    f"SELECT {cols} FROM {_source(plan, frames)}")
        elif plan is None:
            if occur == "must":
                return None
        else:
            must = int(occur == "must")
            n_must += must
            scoring.append(f"SELECT {cols}, score, {must} AS must "
                           f"FROM {_source(plan, frames)}")
    if not scoring:
        return None
    score = "sum(score)"
    if tie is not None:
        score = (f"max(score) + {_sql_num(tie, _stype(precision))} * "
                 f"({score} - max(score))")
    sql = f"""SELECT {cols}, {score} AS score
        FROM ({' UNION ALL '.join(scoring)}) GROUP BY {cols}
        HAVING sum(must) = {n_must}
           AND count(*) - sum(must) >= {int(min_should_match)}"""
    if excluded:
        sql = f"""SELECT * FROM ({sql})
            LEFT ANTI JOIN ({' UNION ALL '.join(excluded)}) USING ({cols})"""
    return _rescored(_Sql(sql, frames), _boosted("score", boost, precision),
                     keys)


def _single(index: InvertedIndex, query_text: str, mode: str = "OR",
            precision: str = "float32", min_should_match: int = 0,
            **kw) -> _Sql:
    """Scored docs of one query: a workload of one."""
    return _scored_docs(
        index, _parse(index, [(0, query_text, mode)], min_should_match),
        precision, **kw)


def _term_set_docs(index: InvertedIndex, terms: list[str],
                   precision: str = "float32", boost: float = 1.0,
                   min_should_match: int = 0) -> _Sql:
    """(seg, docid, score) of one BM25 clause over the term SET ``terms``
    (a repeated term scores once) at ``boost``, keeping the documents that
    match ``min_should_match`` of its terms: the term clause of the query
    parsers and operators, as a workload of one.  It is grouped by
    document alone, so a parser's union of clause frames keeps their
    (seg, docid) partitioning."""
    workload = [_Query(0, dict.fromkeys(sorted(set(terms)), 1),
                       max(1, min_should_match), boost)] if terms else []
    docs = _scored_docs(index, workload, precision, keys=("seg", "docid"))
    return _Sql(f"SELECT seg, docid, score FROM ({docs.text})", docs.frames)


def _keyed(per_doc: "_Sql | DataFrame", index: InvertedIndex,
           frames: dict) -> str:
    """``per_doc`` joined to its documents' keys, as a FROM clause: for
    the callers that need the key of every matched document (facets,
    grouping, highlighting, block joins, cross-field compounds)."""
    return (f"{_source(per_doc, frames)} JOIN (SELECT seg, docid, key "
            f"FROM {_ref(index.docmeta, frames)}) USING (seg, docid)")


def _with_keys(per_doc: "_Sql | DataFrame",
               index: InvertedIndex) -> DataFrame:
    """``per_doc`` joined to its documents' keys: (seg, docid, ..., key)."""
    frames: dict = {}
    return _plan(f"SELECT * FROM {_keyed(per_doc, index, frames)}",
                 **frames)


# The most rows one workload statement brings to the driver: a workload
# whose bound, queries x segments x k, is larger runs in query chunks
# that fit it, the same statement once per chunk.
_TOPK_ROWS = 1 << 20


def _cut(per_doc: "_Sql | DataFrame", parts: str, k: int,
         precision: str = "float32", where: str | None = None) -> DataFrame:
    """The statement of a top-k collector: the top ``k`` of each
    ``parts`` group (``seg``, or ``qid, seg``) of ``per_doc``'s hits by
    (score DESC, docid ASC), as (``parts``, docid, score) with the score
    cast to the precision's type; optionally only over the hits
    satisfying ``where`` (an SQL predicate on seg, docid and score).  It
    reads no key: docids ascend with keys inside a segment, so the
    per-segment cut keeps every hit of the (score DESC, key ASC) top k,
    and it is bounded, k rows per group whatever the ties."""
    frames: dict = {}
    return _plan(f"""
        SELECT {parts}, docid, score FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY {parts} ORDER BY score DESC, docid)
                     AS r
            FROM (SELECT {parts}, docid,
                         CAST(score AS {_stype(precision)}) AS score
                  FROM {_source(per_doc, frames)})
            {f'WHERE {where}' if where else ''})
        WHERE r <= {int(k)}""", **frames)


def _collect(statement: DataFrame):
    """The rows of a collector's statement as an Arrow table: the one
    place a top-k statement runs."""
    return statement.toArrow()


def _local(spark, columns: list[tuple[str, str]], data: dict) -> DataFrame:
    """A DataFrame of the driver's ``data`` (column -> values) with the
    (name, SQL type) ``columns``, created through Arrow in no Spark job;
    with no rows, an empty statement (an empty pandas frame would become
    a one-job RDD scan)."""
    if not len(next(iter(data.values()))):
        return spark.sql("SELECT " + ", ".join(
            f"CAST(NULL AS {t}) AS {c}" for c, t in columns) + " WHERE false")
    return spark.createDataFrame(pd.DataFrame(data),
                                 ", ".join(f"{c} {t}" for c, t in columns))


def _merged(index: InvertedIndex, rows, k: int) -> dict:
    """qid -> the top ``k`` [(score, key)] of the collected (qid?, seg,
    docid, score) ``rows``, by (score DESC, key ASC): the coordinator's
    merge of the per-segment top ids (Solr's PURPOSE_GET_TOP_IDS), with
    the keys of the survivors from the index's resident keys.  Scores
    compare as the collected score-type floats, keys as ``str`` (code
    point order, Spark's UTF-8 byte order)."""
    keys = index.doc_keys(rows.column("seg").to_numpy(),
                          rows.column("docid").to_numpy())
    qids = (rows.column("qid").to_pylist() if "qid" in rows.column_names
            else [0] * rows.num_rows)
    hits: dict = {}
    for q, score, key in zip(qids, rows.column("score").to_pylist(),
                             keys.tolist()):
        hits.setdefault(q, []).append((-score, key))
    return {q: [(-s, key) for s, key in sorted(h)[:k]]
            for q, h in hits.items()}


def _topk(per_doc: "_Sql | DataFrame", index: InvertedIndex, k: int,
          precision: str = "float32", where: str | None = None) -> DataFrame:
    """TopScoreDocCollector: top-k (key, score) by (score DESC, key ASC),
    optionally only over the hits satisfying ``where`` (an SQL predicate
    on seg, docid and score).  The per-segment cut (:func:`_cut`) runs
    here, at most k x segments rows reach the driver, and the result is
    a local frame of k rows."""
    return _ranked(index, _cut(per_doc, "seg", k, precision, where), k,
                   precision)


def _ranked(index: InvertedIndex, statement: DataFrame, k: int,
            precision: str = "float32") -> DataFrame:
    """The local (key, score) frame of the top ``k`` of a single query,
    from its (seg, docid, score) ``statement``, cut to k rows per
    segment, which runs here."""
    top = _merged(index, _collect(statement), k).get(0, [])
    return _local(index.postings.sparkSession,
                  [("key", "string"), ("score", _stype(precision))],
                  {"key": [key for _s, key in top],
                   "score": np.array([s for s, _key in top],
                                     _dtype(precision))})


def _topk_per_qid(index: InvertedIndex, workload: list[_Query], statement,
                  k: int, precision: str = "float32") -> DataFrame:
    """Workload collector: (qid, rank, key, score), the top-k of every
    qid of ``workload``, each qid's rows contiguous and rank-ordered.
    ``statement(queries)`` is the (qid, seg, docid, score) statement of
    a chunk of the workload, cut to k rows per (qid, seg); it runs here,
    once per chunk of at most ``_TOPK_ROWS`` rows, and the driver merges
    each qid's segments."""
    per_chunk = max(1, _TOPK_ROWS // max(1, k * index.num_segments()))
    tables = [_collect(statement(workload[i:i + per_chunk]))
              for i in range(0, len(workload), per_chunk)]
    out: dict[str, list] = {"qid": [], "rank": [], "key": [], "score": []}
    if tables:
        for q, top in sorted(_merged(index, pa.concat_tables(tables),
                                     k).items()):
            out["qid"] += [q] * len(top)
            out["rank"] += range(1, len(top) + 1)
            out["key"] += [key for _s, key in top]
            out["score"] += [s for s, _key in top]
    return _local(index.postings.sparkSession,
                  [("qid", _int_type(q.qid for q in workload)),
                   ("rank", "int"), ("key", "string"),
                   ("score", _stype(precision))],
                  {**out, "score": np.array(out["score"], _dtype(precision))})


def search_terms(index: InvertedIndex, query_text: str, mode: str = "OR",
                 k: int = 10, min_should_match: int = 0,
                 exclude_text: str | None = None,
                 precision: str = "float32") -> DataFrame:
    """Analyze ``query_text`` with the same chain as indexing (Lucene parses
    queries through the index analyzer), then run OR/AND with optional
    MUST_NOT and minimum-should-match. Returns top-k (key, score)."""
    docs = _single(index, query_text, mode, precision, min_should_match,
                   exclude_text=exclude_text)
    return _topk(docs, index, k, precision)


def search_or(index: InvertedIndex, query_text: str, k: int = 10,
              precision: str = "float32") -> DataFrame:
    return search_terms(index, query_text, "OR", k, precision=precision)


def search_and(index: InvertedIndex, query_text: str, k: int = 10,
               precision: str = "float32") -> DataFrame:
    return search_terms(index, query_text, "AND", k, precision=precision)


def search_dismax(index: InvertedIndex, query_text: str, k: int = 10,
                  tie_breaker: float = 0.0,
                  precision: str = "float32") -> DataFrame:
    """score = max(sub) + tie * (sum(sub) - max(sub))
    (``search/DisjunctionMaxQuery.java``); a repeated term is a repeated
    disjunct."""
    docs = _single(index, query_text, precision=precision,
                   tie_breaker=tie_breaker)
    return _topk(docs, index, k, precision)


def count_query(index: InvertedIndex, query_text: str, mode: str = "OR") -> int:
    """TotalHitCountCollector (``search/TotalHitCountCollector.java``)."""
    return _build(_single(index, query_text, mode)).count()


def search_after(index: InvertedIndex, query_text: str, k: int,
                 after_score: float, after_key: str,
                 mode: str = "OR", precision: str = "float32") -> DataFrame:
    """Cursor pagination: hits strictly after (score, key) in rank order
    (``search/IndexSearcher.java:234-250,351-416``).  As docids ascend
    with keys inside a segment, the key bound is a per-segment docid
    bound, a seg -> docid map literal."""
    docs = _single(index, query_text, mode, precision)
    after = _sql_num(after_score, "double")
    bounds = [{"k": s, "v": d}
              for s, d in sorted(index.docid_bounds(after_key).items())]
    bound = ("coalesce(map_from_entries(" + _json_sql(
        bounds, "array<struct<k: int, v: int>>") + ")[seg], -1)")
    return _topk(docs, index, k, precision,
                 where=f"(score < {after}) OR ((score = {after}) "
                       f"AND (docid > {bound}))")


def search_phrase(index: InvertedIndex, phrase_text: str, k: int = 10,
                  precision: str = "float32", boost: float = 1.0,
                  slop: int = 0) -> DataFrame:
    """PhraseQuery over the analysed ``phrase_text``: exact for slop=0
    (``search/ExactPhraseScorer.java:26-33``), SloppyPhraseScorer for
    slop>0; BM25 on the phrase freq with summed idf
    (``PhraseQuery.java:279-283``).  Analysed positions are the phrase
    offsets, so stopword holes widen the phrase.  A phrase of fewer than
    two terms is a term query."""
    if not index.with_positions:
        raise ValueError("index built without positions")
    terms, offsets = _phrase_terms(index, phrase_text)
    if len(terms) < 2:
        return search_terms(index, phrase_text, "OR", k, precision=precision)
    scored = _phrase_frame(index, [[t] for t in terms], offsets, precision,
                           boost, slop)
    return _topk(scored, index, k, precision)


def _slot_positions(index: InvertedIndex, scorer: _Scorer,
                    slots: list[list[str]], weight: float,
                    required=()) -> _Sql:
    """The positional gather over ``index``'s postings: (seg, docid,
    norm, w, hits) for every document holding a term of ``slots`` and a
    hit in every slot of ``required``, where ``hits`` is the sorted
    array<struct<slot, pos>> of the document's postings, one per (slot,
    term), with the term's positions, and ``w`` the query's ``weight``.
    One term-pruned postings scan; each term fans out to every slot
    holding it, so a repeated phrase term feeds each of its slots."""
    terms = sorted({t for slot in slots for t in slot})
    frames: dict = {}
    postings = _ref(index.postings, frames)
    sql = f"""
        SELECT seg, p.docid AS docid, first(p.norm) AS norm, first(w) AS w,
               array_sort(collect_list(struct(slot, p.positions AS pos)))
                 AS hits
        FROM (SELECT seg, slot, w, explode(postings) AS p
              FROM (SELECT seg, postings,
                           inline({scorer.slot_fanout(slots, weight)}[term])
                    FROM {postings} WHERE {_sql_in('term', terms)})
              DISTRIBUTE BY seg)
        GROUP BY seg, p.docid"""
    if required:
        sql = f"SELECT * FROM ({sql}) WHERE {_has_slots(required)}"
    return _Sql(sql, frames)


def _has_slots(slot_ids) -> str:
    """Every slot of ``slot_ids`` holds a hit: the set-containment filter
    (AND's ``nmatched >= need`` over slots)."""
    need = sorted(set(slot_ids))
    return (f"size(array_intersect(hits.slot, "
            f"array({', '.join(map(str, need))}))) = {len(need)}")


def _exact_phrase_freq(offsets: list[int]) -> str:
    """ExactPhraseScorer's freq: per slot, the union of its terms'
    positions shifted back by the slot's offset; the phrase occurs at every
    start that all slots share."""
    def starts(i: int, off: int) -> str:
        return (f"transform(flatten(transform(filter(hits, h -> h.slot = {i}"
                f"), h -> h.pos)), p -> p - {off})")

    common = f"array_distinct({starts(0, offsets[0])})"
    for i, off in enumerate(offsets[1:], 1):
        common = f"array_intersect({common}, {starts(i, off)})"
    return f"CAST(size({common}) AS double)"


def _freq_scores(docs: _Sql, scorer: _Scorer, name: str,
                 freq: str | None = None) -> _Sql:
    """(seg, docid, ``name``, score) of the documents of ``docs`` (seg,
    docid, norm, w, ...) whose freq is positive: BM25 on that freq with
    the query weight ``w``.  The freq is the SQL expression ``freq`` over
    them, or else their ``freq`` column."""
    cols = f"*, {freq} AS freq" if freq else "*"
    return _Sql(f"""
        SELECT seg, docid, freq AS {name}, {scorer.score('w')} AS score
        FROM (SELECT {cols} FROM ({docs.text}))
        WHERE freq > 0""", docs.frames)


def _udf_freq(docs: _Sql, udf) -> _Sql:
    """``docs`` with the column ``freq`` that ``udf`` computes from their
    hits: the one step of a plan applied through the DataFrame API."""
    frame = _build(docs)
    frame = frame.withColumn("freq", udf(frame["hits"]))
    frames: dict = {}
    return _Sql(f"SELECT * FROM {_ref(frame, frames)}", frames)


def _phrase_frame(index: InvertedIndex, slots: list[list[str]],
                  offsets: list[int], precision: str = "float32",
                  boost: float = 1.0, slop: int = 0) -> _Sql:
    """(seg, docid, pfreq, score) of a phrase whose slot i accepts any term
    of ``slots[i]`` at phrase offset ``offsets[i]``; weight = idf summed
    over every term of every slot.  slop>0 takes one term per slot."""
    flat = [t for slot in slots for t in slot]
    scorer = _Scorer(index, flat, precision, boost)
    docs = _slot_positions(
        index, scorer, slots,
        scorer.summed_weight([scorer.df(t) for t in flat], boost),
        range(len(slots)))
    if slop == 0:
        return _freq_scores(docs, scorer, "pfreq",
                            _exact_phrase_freq(offsets))
    return _freq_scores(_udf_freq(docs, _sloppy_pfreq_udf(
        slop, flat, offsets, f32=(precision != "float64"))), scorer, "pfreq")


def phrase_score_frame(index: InvertedIndex, terms: list[str],
                       precision: str = "float32",
                       boost: float = 1.0, slop: int = 0,
                       offsets: list[int] | None = None) -> DataFrame:
    """(seg, docid, pfreq, score) for a phrase — the unsorted scoring frame
    (used directly by the boolean plan builder in plans/query.py).

    ``offsets[i]`` is term i's position within the phrase (analyzed query
    positions; defaults to 0..n-1).  slop=0 counts the aligned starts in
    Catalyst (ExactPhraseScorer); slop>0 runs the EXACT SloppyPhraseScorer
    kernel (``search/SloppyPhraseScorer.java`` phraseFreq + repeating-term
    groups, ported in functions/phrasepos.py) over the per-doc positions.
    """
    if offsets is None:
        offsets = list(range(len(terms)))
    return _build(_phrase_frame(index, [[t] for t in terms], offsets,
                                precision, boost, slop))


def _sloppy_pfreq_udf(slop: int, terms: list[str], offsets: list[int],
                      f32: bool = True):
    """Arrow-batched wrapper over the exact SloppyPhraseScorer kernel
    (functions/phrasepos.py) on one-term slots' hits.  term_ids group
    equal terms so the kernel's repeating-term machinery mirrors
    ``gatherRptGroups``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.phrasepos import sloppy_phrase_freq

    first = {t: terms.index(t) for t in set(terms)}
    term_ids = [first[t] for t in terms]

    @pandas_udf("double")
    def pfreq(hits_series):  # pd.Series -> pd.Series (hints omitted: the
        # local pandas import makes string annotations unresolvable for
        # pandas_udf's signature inference)
        out = []
        for hits in hits_series:
            pos_lists = [h["pos"] for h in hits]  # slot-ordered
            out.append(sloppy_phrase_freq(pos_lists, offsets, slop,
                                          term_ids=term_ids, f32=f32))
        return pd.Series(out)

    # marked nondeterministic so the optimizer runs it once: pushing the
    # caller's ``freq > 0`` filter below the projection would inline a
    # deterministic UDF into the filter and evaluate the kernel twice
    return pfreq.asNondeterministic()


def explain(index: InvertedIndex, query_text: str, key: str) -> list[dict]:
    """Score explanation for one document — the ``Explanation`` tree
    analogue (``search/similarities/BM25Similarity.java explainScore``):
    per matching term, the idf / tf / norm-cache components and the exact
    float32 partial, plus the summed total."""
    terms = _qterms(index, query_text)
    if not terms:
        return []
    scorer = _Scorer(index, terms)
    doc = index.docmeta.where(F.col("key") == key) \
        .select("seg", "docid", "doclen", "norm").collect()
    if not doc:
        return []
    seg, docid, doclen, normb = (doc[0]["seg"], doc[0]["docid"],
                                 doc[0]["doclen"], doc[0]["norm"])
    rows = (index.postings
            .where((F.col("seg") == seg) & F.col("term").isin(terms))
            .select("term", F.explode("postings").alias("p"))
            .where(F.col("p.docid") == docid)
            .select("term", "p.freq").collect())
    freq_by_term = {r["term"]: r["freq"] for r in rows}
    out = []
    total = np.float32(0.0)
    for t in sorted(set(terms)):
        tf = freq_by_term.get(t)
        if tf is None:
            continue
        df = scorer.df(t)
        idf_v = scorer.stats.idf(df)
        cache_v = scorer.stats.cache[normb & 0xFF]
        partial = scorer.stats.score(df, np.array([tf]),
                                     np.array([normb]))[0]
        total = total + partial
        out.append({
            "term": t, "freq": int(tf), "docFreq": int(df),
            "idf": float(idf_v), "fieldLength": int(doclen),
            "normByte": int(normb), "normFactor": float(cache_v),
            "avgdl": float(scorer.stats.avgdl),
            "partial": float(partial),
            "formula": "idf * (k1+1) * freq / (freq + k1*((1-b) + "
                       "b*decode(norm)/avgdl))",
        })
    if out:
        out.append({"term": "<sum>", "partial": float(total)})
    return out


def ngram_phrase_search(index: InvertedIndex, query_text: str, n: int = 2,
                        k: int = 10,
                        precision: str = "float32") -> DataFrame:
    """NGramPhraseQuery (``search/NGramPhraseQuery.java:40-72``): a phrase
    over an n-gram-tokenized field only needs the grams at positions
    0, n, 2n, ... plus the LAST gram — overlapping grams at stride n cover
    every character, so the reduced phrase matches exactly the same docs
    while reading ~1/n of the posting lists.  Weight = summed idf over the
    KEPT grams (the rewrite scores with the reduced term set)."""
    text = query_text.lower()
    grams = [text[i:i + n] for i in range(max(0, len(text) - n + 1))]
    if len(grams) < 2:
        return search_terms(index, "".join(grams), "OR", k,
                            precision=precision)
    keep = list(range(0, len(grams), n))
    if keep[-1] != len(grams) - 1:
        keep.append(len(grams) - 1)
    terms = [grams[i] for i in keep]
    frame = _phrase_frame(index, [[t] for t in terms], keep, precision)
    return _topk(frame, index, k, precision)


def custom_score_search(index: InvertedIndex, query_text: str,
                        boosts: DataFrame, k: int = 10,
                        boost_col: str = "boost",
                        precision: str = "float32") -> DataFrame:
    """CustomScoreQuery (``lucene/queries/.../CustomScoreQuery.java``,
    default ``CustomScoreProvider.customScore``): the BM25 subquery score
    MULTIPLIED by a per-document function-query value.  The boost frame
    (key, boost) joins in BEFORE the collector cut, so the top-k reflects
    the boosted order — rescoring an unboosted top-k would be wrong
    whenever a high-boost doc sits just past the unboosted cut.

    Scale shape: the boost side is a per-doc scalar column — broadcast
    when it is a small dim table; here it joins on the doc key AFTER the
    per-term scoring aggregate (so the join input is |matching docs|, not
    |postings|)."""
    stype = _stype(precision)
    with_keys = _with_keys(_single(index, query_text, precision=precision),
                           index)
    boosted = with_keys.join(boosts, "key").select(
        "key",
        (F.col("score") * F.col(boost_col)).cast(stype).alias("score"))
    return boosted.orderBy(F.desc("score"), F.asc("key")).limit(k)


def rescore(index: InvertedIndex, first_query: str, second_query: str,
            n: int = 100, k: int = 10, weight: float = 2.0,
            mode: str = "OR", precision: str = "float32") -> DataFrame:
    """QueryRescorer (``search/QueryRescorer.java``): run ``first_query``,
    keep its top-``n``, add ``weight x`` the second query's score for every
    kept doc that matches it (the reference's default ``combine`` =
    firstPassScore + weight * secondPassScore when it matches), re-sort,
    return top-``k``.

    The second pass scores ONLY the n retained docs (a join against the
    top-n frame, which is broadcastable for any practical n) — the
    expensive query never touches the full corpus, which is the entire
    point of rescoring at 100 TB."""
    stype = _stype(precision)
    first = search_terms(index, first_query, mode, k=n,
                         precision=precision) \
        .withColumnRenamed("score", "first_score")
    per_doc2 = _with_keys(
        _single(index, second_query, precision=precision), index).select(
            "key", F.col("score").alias("second_score"))
    combined = (first.join(per_doc2, "key", "left")
                .select("key",
                        (F.col("first_score")
                         + F.lit(weight).cast(stype)
                         * F.coalesce(F.col("second_score"),
                                      F.lit(0.0).cast(stype)))
                        .cast(stype).alias("score")))
    return combined.orderBy(F.desc("score"), F.asc("key")).limit(k)
