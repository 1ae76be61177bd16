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
onto one Spark SQL statement through ``search._compound``: every scoring
clause contributes a (seg, docid, score) plan; a doc's score is the float
sum of its matching clauses; docs must match all MUST clauses and no
MUST_NOT clause, whose doc sets come from the same clause -> SQL
term-predicate dispatch.  Score = Lucene's sum-with-coord(1) (BM25 never
overrides coord).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from itertools import chain

from pyspark.sql import DataFrame, functions as F

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


def _wildcard_pred(pattern: str) -> str:
    """SQL term predicate of a wildcard: an anchored ``RLIKE``, ``*`` any
    run, ``?`` one char."""
    esc = re.escape(pattern).replace(r"\*", ".*").replace(r"\?", ".")
    return f"term RLIKE {S._sql_str('^' + esc + '$')}"


def _dict_terms(index: InvertedIndex, pred: str, limit: int) -> list[str]:
    """The first ``limit`` dictionary terms satisfying the SQL ``pred``,
    in term order: a capped expansion over the materialised term
    dictionary (``InvertedIndex.terms_dict``), a TakeOrderedAndProject, so
    at most ``limit`` rows are collected and no postings are read."""
    rows = (index.terms_dict().select("term").where(pred)
            .orderBy("term").limit(limit).collect())
    return [r["term"] for r in rows]


_REGEXP_FN = "_fulltext_regexp"


def _regexp_matches(terms, patterns):
    """The full-grammar membership test of :func:`regexp_pred` over an
    Arrow batch of terms, the pattern a literal."""
    ast = parse_regexp(patterns.iloc[0]) if len(patterns) else None
    return terms.map(lambda t: _re_matches(ast, t or ""))


def regexp_pred(pattern: str, spark) -> str:
    """Term predicate, as SQL, for a Lucene-RegExp pattern.

    Fast path: the pattern subset Java regex can express translates to an
    anchored ``RLIKE`` (JVM-side, whole-stage codegen over the dictionary).
    Full grammar (complement / intersection / non-fixed intervals):
    evaluate exact language membership in an Arrow-batched pandas UDF,
    registered once per session as a SQL function of (term, pattern
    literal) — still a dictionary-sized scan, never a doc scan.  Invalid
    syntax raises RegexpSyntaxError instead of silently mis-parsing as
    Java regex."""
    jr = to_java_regex(pattern)
    if jr is not None:
        return f"term RLIKE {S._sql_str(jr)}"
    if not getattr(spark, "_fulltext_regexp", False):
        from pyspark.sql.functions import pandas_udf

        spark.udf.register(_REGEXP_FN,
                           pandas_udf(_regexp_matches, "boolean"))
        spark._fulltext_regexp = True
    return f"{_REGEXP_FN}(term, {S._sql_str(pattern)})"


def _range_pred(r, col: str = "term", lit=S._sql_str) -> str:
    """``col`` within the range ``r`` (a RangeClause or an XML range
    filter), its bounds written as SQL literals by ``lit``."""
    lo = ">=" if r.include_lower else ">"
    hi = "<=" if r.include_upper else "<"
    return f"{col} {lo} {lit(r.lower)} AND {col} {hi} {lit(r.upper)}"


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


def _clause_pred(index: InvertedIndex, clause) -> tuple[str | None,
                                                       list[str]]:
    """(SQL term predicate, scored terms) of a clause.  A constant-score
    multi-term clause (wildcard, regexp, range) is its dictionary
    predicate with no scored terms; a term, phrase or fuzzy clause is
    ``term IN`` its analysed or fuzzy-expanded terms.  The predicate is
    ``None`` when the clause matches nothing."""
    if isinstance(clause, WildcardClause):
        return _wildcard_pred(clause.pattern), []
    if isinstance(clause, RegexpClause):
        return regexp_pred(clause.pattern, index.postings.sparkSession), []
    if isinstance(clause, RangeClause):
        return _range_pred(clause), []
    if isinstance(clause, FuzzyClause):
        terms = _fuzzy_terms(index, clause)
    else:
        terms = [t.term for t in get_analyzer(index.analyzer)(clause.text)]
    return (S._sql_in("term", terms) if terms else None), terms


def _phrase(index: InvertedIndex, clause, terms: list[str],
            precision: str = "float32") -> S._Sql | None:
    """The phrase plan of a phrase clause of several terms, else None."""
    if not isinstance(clause, PhraseClause) or len(terms) < 2:
        return None
    return S._phrase_frame(index, [[t] for t in terms],
                           list(range(len(terms))), precision, clause.boost,
                           clause.slop)


def _clause_frame(index: InvertedIndex, clause,
                  precision: str) -> S._Sql | None:
    """-> plan(seg, docid, score) | None."""
    pred, terms = _clause_pred(index, clause)
    if pred is None:
        return None
    if not terms:
        # constant-score multi-term rewrite: score = boost per matching doc
        return S._rescored(S._docs_where(index, pred),
                           S._sql_num(clause.boost, S._stype(precision)))
    return (_phrase(index, clause, terms, precision)
            or S._term_set_docs(index, terms, precision, clause.boost))


def _clause_docs(index: InvertedIndex, clause) -> S._Sql | None:
    """The doc set of a MUST_NOT clause, or None when it matches nothing:
    a phrase excludes the documents the phrase matches at its slop, any
    other clause the documents holding a term of its predicate."""
    pred, terms = _clause_pred(index, clause)
    if pred is None:
        return None
    return _phrase(index, clause, terms) or S._docs_where(index, pred)


def _bool_plan(index: InvertedIndex, query,
               precision: str = "float32") -> S._Sql | None:
    """BooleanQuery semantics -> plan(seg, docid, score), or ``None`` when
    the query matches nothing (empty after analysis, or a MUST clause that
    analyzes to nothing)."""
    if isinstance(query, str):
        query = parse_query(query)
    clauses = chain(
        (("must", _clause_frame(index, c, precision)) for c in query.must),
        (("should", _clause_frame(index, c, precision))
         for c in query.should),
        (("must_not", _clause_docs(index, c)) for c in query.must_not))
    return S._compound(clauses, precision,
                       min_should_match=query.min_should_match)


def bool_score_frame(index: InvertedIndex, query,
                     precision: str = "float32") -> DataFrame | None:
    """The frame of :func:`_bool_plan`, shared with the XML parser's
    ``UserQuery`` (plans/xml.py)."""
    return S._build(_bool_plan(index, query, precision))


def execute(index: InvertedIndex, query, k: int = 10,
            precision: str = "float32") -> DataFrame:
    """Run a BoolQuery (or raw query string) -> top-k (key, score)."""
    plan = _bool_plan(index, query, precision)
    return S._topk(plan or S._no_docs(index, precision), index, k,
                   precision)


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
            terms = _dict_terms(index, _wildcard_pred(w.lower()),
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
