"""Query AST + classic-syntax parser + plan builder.

A re-derivation of the classic QueryParser's core surface
(``lucene/queryparser/.../classic/QueryParserBase.java:57-62,456-479``):

    term term            -- disjunction (default OR)
    +term                -- MUST clause
    -term                -- MUST_NOT clause
    "a b"                -- exact phrase (slop 0)
    term^2.5             -- boost
    te?m / ter*          -- wildcard/prefix (constant-score rewrite,
                            ``search/WildcardQuery.java`` + the parser's
                            CONSTANT_SCORE_AUTO default)
    term~ / term~1       -- fuzzy (dictionary expansion scored as a
                            disjunction; uniform boost — a documented
                            simplification of TopTermsScoringBoolean's
                            similarity-scaled boosts)
    [a TO b] / {a TO b}  -- term range (constant score; [] inclusive,
                            {} exclusive — ``TermRangeQuery``)
    AND/OR/NOT           -- infix sugar: `a AND b` == `+a +b`,
                            `a OR b` == `a b`, `NOT a` == `-a`

Execution maps the BooleanQuery semantics (``search/BooleanQuery.java``)
onto one DataFrame plan through ``search._compound``: every scoring clause
contributes a (seg, docid, score) frame; a doc's score is the float sum of
its matching clauses; docs must match all MUST clauses and no MUST_NOT
clause, whose doc sets come from the same clause -> term-predicate
dispatch.  Score = Lucene's sum-with-coord(1) (BM25 never overrides coord).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from itertools import chain

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.regexp import matches as _re_matches
from ..functions.regexp import parse_regexp, to_java_regex
from ..functions.tokenizer import get_analyzer
from ..operators import search as S
from ..operators.indexer import InvertedIndex

__all__ = ["TermClause", "PhraseClause", "WildcardClause", "FuzzyClause",
           "RangeClause", "RegexpClause", "BoolQuery", "parse_query",
           "bool_score_frame", "execute"]


@dataclass
class TermClause:
    text: str
    boost: float = 1.0


@dataclass
class PhraseClause:
    text: str
    boost: float = 1.0
    # QueryParserBase.getFieldQuery: "..."~N sloppy phrase (slop=0 exact)
    slop: int = 0


@dataclass
class WildcardClause:
    pattern: str            # * = any run, ? = one char (lowercased)
    boost: float = 1.0


@dataclass
class FuzzyClause:
    text: str
    max_edits: int = 2
    boost: float = 1.0
    # FuzzyQuery.java:54-83 — defaultMaxExpansions = 50
    max_expansions: int = 50
    # FuzzyQuery defaultPrefixLength = 0: candidates must share the
    # first prefix_length characters (cheap dictionary pre-filter)
    prefix_length: int = 0


@dataclass
class RegexpClause:
    """``search/RegexpQuery.java``: the pattern uses LUCENE RegExp syntax
    (``util/automaton/RegExp.java`` — ``~`` complement, ``&`` intersection,
    ``@`` anystring, ``<n-m>`` intervals), NOT Java regex.  Constant-score
    multi-term rewrite like Wildcard."""
    pattern: str
    boost: float = 1.0


@dataclass
class RangeClause:
    lower: str
    upper: str
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass
class BoolQuery:
    must: list = field(default_factory=list)
    should: list = field(default_factory=list)
    must_not: list = field(default_factory=list)
    min_should_match: int = 0


_TOKEN_RE = re.compile(
    r'(?P<op>[+-])?'
    r'(?:"(?P<phrase>[^"]*)"(?:~(?P<pslop>\d+))?'
    r'|/(?P<regex>[^/]*)/'
    r'|(?P<lb>[\[{])(?P<lo>\S+) TO (?P<hi>\S+)(?P<rb>[\]}])'
    r'|(?P<term>[^\s^]+))'
    r"(?:\^(?P<boost>[0-9.]+))?")

_FUZZY_RE = re.compile(r"^(?P<base>.+?)~(?P<edits>[0-2])?$")


def parse_query(q: str) -> BoolQuery:
    out = BoolQuery()
    pending = None  # infix operator state
    for m in _TOKEN_RE.finditer(q):
        raw_term = m.group("term")
        if raw_term in ("AND", "OR", "NOT", "&&", "||"):
            pending = raw_term
            continue
        boost = float(m.group("boost") or 1.0)
        if m.group("phrase") is not None:
            clause = PhraseClause(m.group("phrase"), boost,
                                  slop=int(m.group("pslop") or 0))
        elif m.group("regex") is not None:
            # /pattern/ — classic parser's RegexpQuery syntax; lowercased
            # like wildcards (lowercase_expanded_terms default)
            clause = RegexpClause(m.group("regex").lower(), boost)
        elif m.group("lo") is not None:
            clause = RangeClause(m.group("lo").lower(),
                                 m.group("hi").lower(),
                                 include_lower=m.group("lb") == "[",
                                 include_upper=m.group("rb") == "]",
                                 boost=boost)
        else:
            fz = _FUZZY_RE.match(raw_term)
            if fz and "~" in raw_term:
                clause = FuzzyClause(fz.group("base").lower(),
                                     int(fz.group("edits") or 2), boost)
            elif "*" in raw_term or "?" in raw_term:
                clause = WildcardClause(raw_term.lower(), boost)
            else:
                clause = TermClause(raw_term, boost)
        op = m.group("op")
        if pending in ("NOT",):
            op = "-"
        elif pending in ("AND", "&&"):
            # promote the previous should-clause and this one to MUST
            if out.should:
                out.must.append(out.should.pop())
            op = op or "+"
        pending = None
        if op == "+":
            out.must.append(clause)
        elif op == "-":
            out.must_not.append(clause)
        else:
            out.should.append(clause)
    return out


def _wildcard_regex(pattern: str) -> str:
    """Anchored Java regex of a wildcard: ``*`` any run, ``?`` one char."""
    esc = re.escape(pattern)
    return "^" + esc.replace(r"\*", ".*").replace(r"\?", ".") + "$"


def _dict_terms(index: InvertedIndex, pred, limit: int) -> list[str]:
    """The first ``limit`` dictionary terms satisfying ``pred``, in term
    order: a capped expansion over the materialised term dictionary
    (``InvertedIndex.terms_dict``), a TakeOrderedAndProject, so at most
    ``limit`` rows are collected and no postings are read."""
    rows = (index.terms_dict().select("term").where(pred)
            .orderBy("term").limit(limit).collect())
    return [r["term"] for r in rows]


def regexp_pred(pattern: str):
    """Term predicate for a Lucene-RegExp pattern.

    Fast path: the pattern subset Java regex can express translates to an
    anchored ``rlike`` (JVM-side, whole-stage codegen over the dictionary).
    Full grammar (complement / intersection / non-fixed intervals):
    evaluate exact language membership in an Arrow-batched pandas UDF —
    still a dictionary-sized scan, never a doc scan.  Invalid syntax raises
    RegexpSyntaxError instead of silently mis-parsing as Java regex."""
    ast = parse_regexp(pattern)
    jr = to_java_regex(ast)
    if jr is not None:
        return F.col("term").rlike(jr)
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _m(terms):
        return terms.map(lambda t: _re_matches(ast, t or ""))

    return _m(F.col("term"))


def _range_pred(clause: RangeClause):
    lo = (F.col("term") >= clause.lower if clause.include_lower
          else F.col("term") > clause.lower)
    hi = (F.col("term") <= clause.upper if clause.include_upper
          else F.col("term") < clause.upper)
    return lo & hi


def _fuzzy_terms(index: InvertedIndex, clause: FuzzyClause) -> list[str]:
    """TopTermsRewrite expansion bound (``search/FuzzyQuery.java:54-83``
    defaults maxExpansions=50; ``search/TopTermsRewrite.java`` keeps the
    highest-boost = closest-distance candidates): rank dictionary candidates
    by (edit distance asc, term asc) and keep at most ``max_expansions``.
    The ranked cap is a TakeOrderedAndProject over the persisted term
    dictionary (``InvertedIndex.terms_dict``: the per-segment dictionaries
    summed once per index) — ≤50 rows reach the driver regardless of
    dictionary size."""
    from ..operators.spell import edit_candidate_pred

    cands = index.terms_dict().select("term")
    if clause.prefix_length > 0:
        # FuzzyQuery prefixLength: expansion shares the first p chars
        cands = cands.where(
            F.col("term").startswith(clause.text[:clause.prefix_length]))
    # length-band + substring-anchor pruning (a safe superset — see
    # edit_candidate_pred) so the exact distance runs against a small
    # candidate set, not the whole dictionary; the threshold arg makes
    # each surviving levenshtein O(max_edits * len) with early exit
    cands = cands.where(edit_candidate_pred(clause.text, clause.max_edits))
    rows = (cands
            .withColumn("dist",
                        F.levenshtein(F.col("term"), F.lit(clause.text),
                                      clause.max_edits))
            .where(F.col("dist") >= 0)
            .orderBy(F.asc("dist"), F.asc("term"))
            .limit(clause.max_expansions)
            .collect())
    return sorted(r["term"] for r in rows)


def _clause_pred(index: InvertedIndex, clause) -> tuple[Column | None,
                                                       list[str]]:
    """(term predicate, scored terms) of a clause.  A constant-score
    multi-term clause (wildcard, regexp, range) is its dictionary
    predicate with no scored terms; a term, phrase or fuzzy clause is
    ``term IN`` its analysed or fuzzy-expanded terms.  The predicate is
    ``None`` when the clause matches nothing."""
    if isinstance(clause, WildcardClause):
        return F.col("term").rlike(_wildcard_regex(clause.pattern)), []
    if isinstance(clause, RegexpClause):
        return regexp_pred(clause.pattern), []
    if isinstance(clause, RangeClause):
        return _range_pred(clause), []
    if isinstance(clause, FuzzyClause):
        terms = _fuzzy_terms(index, clause)
    else:
        terms = [t.term for t in get_analyzer(index.analyzer)(clause.text)]
    return (F.expr(S._sql_in("term", terms)) if terms else None), terms


def _is_phrase(clause, terms: list[str]) -> bool:
    """A phrase clause of several terms: it matches as a phrase."""
    return isinstance(clause, PhraseClause) and len(terms) > 1


def _clause_frame(index: InvertedIndex, clause,
                  precision: str) -> DataFrame | None:
    """-> frame(seg, docid, score) | None."""
    pred, terms = _clause_pred(index, clause)
    if pred is None:
        return None
    if not terms:
        # constant-score multi-term rewrite: score = boost per matching doc
        return S._docs_where(index, pred).withColumn(
            "score", F.lit(clause.boost).cast(S._stype(precision)))
    if _is_phrase(clause, terms):
        return S.phrase_score_frame(index, terms, precision, clause.boost,
                                    slop=clause.slop).select(
            "seg", "docid", "score")
    return S._term_set_docs(index, terms, precision, clause.boost)


def _clause_docs(index: InvertedIndex, clause) -> DataFrame | None:
    """The doc set of a MUST_NOT clause, or None when it matches nothing:
    a phrase excludes the documents the phrase matches at its slop, any
    other clause the documents holding a term of its predicate."""
    pred, terms = _clause_pred(index, clause)
    if pred is None:
        return None
    if _is_phrase(clause, terms):
        return S.phrase_score_frame(index, terms,
                                    slop=clause.slop).select("seg", "docid")
    return S._docs_where(index, pred)


def bool_score_frame(index: InvertedIndex, query,
                     precision: str = "float32") -> DataFrame | None:
    """BooleanQuery semantics -> score frame(seg, docid, score), or
    ``None`` when the query matches nothing (empty after analysis, or a
    MUST clause that analyzes to nothing).  Shared by :func:`execute`
    and the XML parser's ``UserQuery``/nested-boolean execution
    (plans/xml.py)."""
    if isinstance(query, str):
        query = parse_query(query)
    clauses = chain(
        (("must", _clause_frame(index, c, precision)) for c in query.must),
        (("should", _clause_frame(index, c, precision))
         for c in query.should),
        (("must_not", _clause_docs(index, c)) for c in query.must_not))
    return S._compound(clauses, precision,
                       min_should_match=query.min_should_match)


def execute(index: InvertedIndex, query, k: int = 10,
            precision: str = "float32") -> DataFrame:
    """Run a BoolQuery (or raw query string) -> top-k (key, score)."""
    frame = bool_score_frame(index, query, precision)
    if frame is None:
        frame = S._no_docs(index, precision)
    return S._topk(frame, index, k, precision)


def complex_phrase_search(index: InvertedIndex, phrase: str, k: int = 10,
                          precision: str = "float32",
                          max_expansions: int = 50) -> DataFrame:
    """ComplexPhraseQueryParser (``lucene/queryparser/.../complexPhrase/
    ComplexPhraseQueryParser.java``): wildcard (``*``/``?``) and fuzzy
    (``~``) words INSIDE a quoted phrase.  Each multi-term word expands
    against the term dictionary — wildcards in term order, fuzzy by
    (distance asc, term asc) — capped at ``max_expansions`` (the
    TopTermsRewrite discipline), and the expanded sets become the position
    slots of a MultiPhraseQuery.

    Expansion is a dictionary-sized scan with a TakeOrderedAndProject cap
    (≤``max_expansions`` rows reach the driver), never a doc scan.  Note:
    expanded dictionary terms re-pass the index analyzer inside
    ``multi_phrase`` — exact for chains idempotent on their own output
    (``ws_stop``; English stems re-stem to themselves for this corpus)."""
    from ..operators.spans import multi_phrase

    analyzer = get_analyzer(index.analyzer)
    slots: list[list[str]] = []
    for w in phrase.split():
        fm = _FUZZY_RE.match(w)
        if "*" in w or "?" in w:
            terms = _dict_terms(
                index, F.col("term").rlike(_wildcard_regex(w.lower())),
                max_expansions)
        elif fm and fm.group("edits") != "0":
            edits = int(fm.group("edits") or 2)
            terms = _fuzzy_terms(index, FuzzyClause(
                fm.group("base").lower(), edits,
                max_expansions=max_expansions))
        else:
            terms = [t.term for t in analyzer(w)]
        if not terms:
            # a slot with no dictionary match can never complete a phrase
            return S._topk(S._no_docs(index, precision), index, k, precision)
        slots.append(terms)
    return multi_phrase(index, slots, k=k, precision=precision)
