"""Surround query parser — span-query syntax over the span algebra.

Re-derivation of the reference's surround parser
(``lucene/queryparser/src/java/org/apache/lucene/queryparser/surround/
parser/QueryParser.jj`` + ``query/*.java``), mapped onto this engine's
span trees (operators/spans.py) and BM25 score frames instead of
rewritten Lucene queries:

  * precedence (low -> high): ``OR < AND < NOT < N < W < primary``
    (QueryParser.jj productions OrQuery..WQuery);
  * infix distance operators are LEFT-ASSOCIATIVE PAIRWISE —
    ``w1 W w2 W w3`` nests ``((w1 W w2) W w3)`` (NQuery/WQuery rebuild a
    fresh 2-element list per operator occurrence); prefix forms
    ``2W(a, b, c)`` are n-ary;
  * ``W`` = ordered near, ``N`` = unordered, distance prefix 2-99
    (default 1), span slop = distance - 1
    (``DistanceQuery.java:100`` — ``new SpanNearQuery(clauses,
    getOpDistance() - 1, subQueriesOrdered())``);
  * truncation: ``pre*`` needs a >=3-char prefix, ``t?unc*`` needs >=3
    normal chars (QueryParser.jj ``allowedSuffix``/``allowedTruncation``,
    message "Too unrestrictive truncation: ");
  * inside a distance operator only terms, truncations, nested distance
    ops and OR over those are allowed; AND / NOT / field queries raise
    (``DistanceQuery.distanceSubQueryNotAllowed``);
  * ``AND``/``OR`` flatten n-ary; ``a NOT b NOT c`` = a minus b minus c
    (``NotQuery.java`` — first clause MUST, rest MUST_NOT);
  * ``field:`` prefixes parse (OptionalFields) but this engine indexes a
    single field, so the names are accepted and ignored;
  * ``^w`` weights multiply the subtree's score (OptionalWeights,
    left-associative; w <= 0 raises).  Weights nested INSIDE a distance
    operator multiply that distance clause's score as a whole (the
    reference threads them into per-SpanTerm boosts; this engine's span
    kernel scores the tree as one unit).

No analysis is applied to query terms beyond lowercasing — the surround
parser matches raw index terms (SrndTermQuery carries the literal
image); build the target index with a non-stemming chain for exact
reference parity.

Multi-term expansion happens against the index's term dictionary with a
``max_basic_queries`` budget (``BasicQueryFactory`` default 1024);
exceeding it raises :class:`TooManyBasicQueries`.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..operators import search as S
from ..operators.indexer import InvertedIndex
from ..operators.spans import _span_scores
from .query import _dict_terms, _wildcard_pred

__all__ = ["ParseException", "TooManyBasicQueries", "parse_surround",
           "surround_search", "surround_score_frame"]


class ParseException(ValueError):
    """Surround syntax error (reference ParseException)."""


class TooManyBasicQueries(RuntimeError):
    """Multi-term expansion exceeded max_basic_queries
    (``query/TooManyBasicQueries.java``)."""


# ---------------------------------------------------------------------------
# Lexer (QueryParser.jj token definitions)
# ---------------------------------------------------------------------------

_PUNCT = {"(": "LPAREN", ")": "RPAREN", ",": "COMMA", ":": "COLON"}
# _TERM_CHAR: everything except whitespace and , ? * ( ) : ^ "
_TC = r'[^,\?\*\(\)\:\^"\s]'
_DIST = r"(?:[2-9][0-9]?|1[0-9])"  # 2..99
_W_RE = re.compile(f"({_DIST})?[Ww]$")
_N_RE = re.compile(f"({_DIST})?[Nn]$")
_SUFFIX_RE = re.compile(f"{_TC}+\\*$")
_TRUNC_RE = re.compile(f"{_TC}+[\\*\\?][\\*\\?]*(?:{_TC}|[\\*\\?])*$")
_TERM_RE = re.compile(f"{_TC}+$")
_NUMBER_RE = re.compile(r"[0-9]+(?:\.[0-9]+)?")
_RUN_RE = re.compile(f"(?:{_TC}|[\\*\\?])+")

_TRUNCATION_MSG = "Too unrestrictive truncation: "
_BOOST_MSG = "Cannot handle boost value: "


def _lex(q: str) -> list[tuple[str, object]]:
    toks: list[tuple[str, object]] = []
    i, n = 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c in _PUNCT:
            toks.append((_PUNCT[c], c))
            i += 1
            continue
        if c == "^":  # Boost lexical state: a NUMBER must follow
            m = _NUMBER_RE.match(q, i + 1)
            if not m:
                raise ParseException(f"expected number after ^ at {i}")
            toks.append(("CARAT", "^"))
            toks.append(("NUMBER", m.group(0)))
            i = m.end()
            continue
        if c == '"':
            j, buf = i + 1, []
            while j < n and q[j] != '"':
                if q[j] == "\\" and j + 1 < n and q[j + 1] in '\\"':
                    buf.append(q[j + 1])
                    j += 2
                else:
                    buf.append(q[j])
                    j += 1
            if j >= n or not buf:
                raise ParseException(f"unterminated quote at {i}")
            body = "".join(buf)
            if j + 1 < n and q[j + 1] == "*":
                toks.append(("TRUNCQUOTED", body))
                i = j + 2
            else:
                toks.append(("QUOTED", body))
                i = j + 1
            continue
        m = _RUN_RE.match(q, i)
        if not m:
            raise ParseException(f"unexpected character {c!r} at {i}")
        run = m.group(0)
        i = m.end()
        if run in ("OR", "or"):
            toks.append(("OR", run))
        elif run in ("AND", "and"):
            toks.append(("AND", run))
        elif run in ("NOT", "not"):
            toks.append(("NOT", run))
        elif _W_RE.fullmatch(run):
            d = _W_RE.fullmatch(run).group(1)
            toks.append(("W", int(d) if d else 1))
        elif _N_RE.fullmatch(run):
            d = _N_RE.fullmatch(run).group(1)
            toks.append(("N", int(d) if d else 1))
        elif _TERM_RE.fullmatch(run):
            toks.append(("TERM", run))
        elif _SUFFIX_RE.fullmatch(run):
            toks.append(("SUFFIXTERM", run))
        elif _TRUNC_RE.fullmatch(run):
            toks.append(("TRUNCTERM", run))
        else:
            raise ParseException(f"cannot tokenize {run!r}")
    toks.append(("EOF", None))
    return toks


# ---------------------------------------------------------------------------
# Parser (recursive descent mirroring the .jj productions)
# ---------------------------------------------------------------------------

class _Parser:
    def __init__(self, toks: list[tuple[str, object]]):
        self.toks = toks
        self.i = 0

    def peek(self, ahead: int = 0) -> str:
        return self.toks[min(self.i + ahead, len(self.toks) - 1)][0]

    def next(self, expect: str | None = None) -> tuple[str, object]:
        kind, val = self.toks[self.i]
        if expect is not None and kind != expect:
            raise ParseException(f"expected {expect}, got {kind} {val!r}")
        self.i += 1
        return kind, val

    # TopSrndQuery
    def top(self):
        q = self.fields_query()
        self.next("EOF")
        return q

    # FieldsQuery / OptionalFields (LOOKAHEAD(2) to the colon)
    def fields_query(self):
        names = []
        while self.peek() == "TERM" and self.peek(1) == "COLON":
            _, name = self.next()
            self.next("COLON")
            names.append(name)
        q = self.or_query()
        return ("fields", q, names) if names else q

    def or_query(self):
        q = self.and_query()
        qs = None
        while self.peek() == "OR":
            self.next()
            if qs is None:
                qs = [q]
            qs.append(self.and_query())
        return ("or", qs) if qs else q

    def and_query(self):
        q = self.not_query()
        qs = None
        while self.peek() == "AND":
            self.next()
            if qs is None:
                qs = [q]
            qs.append(self.not_query())
        return ("and", qs) if qs else q

    def not_query(self):
        q = self.n_query()
        qs = None
        while self.peek() == "NOT":
            self.next()
            if qs is None:
                qs = [q]
            qs.append(self.n_query())
        return ("not", qs) if qs else q

    def n_query(self):
        q = self.w_query()
        while self.peek() == "N":
            _, dist = self.next()
            q = self._dist([q, self.w_query()], dist, ordered=False)
        return q

    def w_query(self):
        q = self.primary()
        while self.peek() == "W":
            _, dist = self.next()
            q = self._dist([q, self.primary()], dist, ordered=True)
        return q

    def primary(self):
        kind = self.peek()
        if kind == "LPAREN":
            self.next()
            q = self.fields_query()
            self.next("RPAREN")
        elif kind in ("OR", "AND", "N", "W"):
            q = self.prefix_operator_query()
        else:
            q = self.simple_term()
        return self.optional_weights(q)

    def prefix_operator_query(self):
        kind, val = self.next()
        qs = self.fields_query_list()
        if kind == "OR":
            return ("or", qs)
        if kind == "AND":
            return ("and", qs)
        return self._dist(qs, val, ordered=(kind == "W"))

    def fields_query_list(self):
        # <LPAREN> q (<COMMA> q)+ <RPAREN> — at least TWO queries
        self.next("LPAREN")
        qs = [self.fields_query()]
        self.next("COMMA")
        qs.append(self.fields_query())
        while self.peek() == "COMMA":
            self.next()
            qs.append(self.fields_query())
        self.next("RPAREN")
        return qs

    def simple_term(self):
        kind, val = self.next()
        if kind == "TERM":
            return ("term", val, False)
        if kind == "QUOTED":
            return ("term", val, True)
        if kind == "SUFFIXTERM":
            if len(val) - 1 < 3:  # minimumPrefixLength
                raise ParseException(_TRUNCATION_MSG + val)
            return ("prefix", val[:-1])
        if kind == "TRUNCTERM":
            if sum(c not in "*?" for c in val) < 3:  # minimumCharsInTrunc
                raise ParseException(_TRUNCATION_MSG + val)
            return ("trunc", val)
        if kind == "TRUNCQUOTED":
            if len(val) < 3:
                raise ParseException(_TRUNCATION_MSG + f'"{val}"*')
            return ("prefix", val)
        raise ParseException(f"unexpected {kind} {val!r}")

    def optional_weights(self, q):
        while self.peek() == "CARAT":
            self.next()
            _, img = self.next("NUMBER")
            w = float(img)
            if w <= 0.0:
                raise ParseException(_BOOST_MSG + img)
            q = (("boost", q[1], q[2] * w) if q[0] == "boost"
                 else ("boost", q, w))
        return q

    def _dist(self, qs, dist, ordered):
        node = ("dist", qs, dist, ordered)
        m = _distance_sub_not_allowed(qs)
        if m is not None:
            raise ParseException(
                f"Operator {dist}{'W' if ordered else 'N'}: {m}")
        return node


def _distance_sub_not_allowed(children) -> str | None:
    """DistanceQuery.distanceSubQueryNotAllowed + OrQuery's recursive
    check: every subquery must be a term / truncation / nested distance /
    OR over those (weights ride along)."""
    for c in children:
        kind = c[0]
        if kind in ("term", "prefix", "trunc"):
            continue
        if kind == "boost":
            m = _distance_sub_not_allowed([c[1]])
        elif kind == "or":
            m = _distance_sub_not_allowed(c[1])
        elif kind == "dist":
            m = _distance_sub_not_allowed(c[1])
        else:
            return f"subquery not allowed: {kind}"
        if m is not None:
            return m
    return None


def parse_surround(query: str):
    """Parse a surround query -> AST; raises ParseException on bad
    syntax (fixtures: Test01Exceptions / Test03Distance exception sets)."""
    return _Parser(_lex(query)).top()


# ---------------------------------------------------------------------------
# Execution: AST -> BM25 score frames over the inverted index
# ---------------------------------------------------------------------------

class _Budget:
    """BasicQueryFactory analogue: total term-query budget across the
    whole query (``BasicQueryFactory.java`` checkMax)."""

    def __init__(self, limit: int):
        self.limit = limit
        self.used = 0

    def add(self, n: int) -> None:
        self.used += n
        if self.used > self.limit:
            raise TooManyBasicQueries(
                f"more than {self.limit} basic queries")


def _expand(index: InvertedIndex, node, budget: _Budget) -> list[str]:
    """Dictionary expansion of a prefix/trunc node — a pushed-down probe of
    the persisted term dictionary (``InvertedIndex.terms_dict``), capped
    at the basic-query budget (TakeOrdered over terms; never a doc scan,
    and the dictionary's aggregate is shared by every expansion)."""
    pred = (f"startswith(term, {S._sql_str(node[1].lower())})"
            if node[0] == "prefix" else _wildcard_pred(node[1].lower()))
    terms = _dict_terms(index, pred, budget.limit + 1)
    budget.add(len(terms))
    return terms


def _to_span(index, node, budget) -> tuple[object | None, float]:
    """Distance subtree -> (span tree, weight multiplier); None tree =
    provably no matches (empty expansion under a near)."""
    kind = node[0]
    if kind == "term":
        budget.add(1)
        return ("term", node[1].lower()), 1.0
    if kind in ("prefix", "trunc"):
        terms = _expand(index, node, budget)
        if not terms:
            return None, 1.0
        return ("or", [("term", t) for t in terms]), 1.0
    if kind == "boost":
        sub, m = _to_span(index, node[1], budget)
        return sub, m * node[2]
    if kind == "or":
        kids, mult = [], 1.0
        for c in node[1]:
            s, m = _to_span(index, c, budget)
            mult *= m
            if s is not None:
                kids.append(s)
        if not kids:
            return None, mult
        return (kids[0] if len(kids) == 1 else ("or", kids)), mult
    if kind == "dist":
        kids, mult = [], 1.0
        for c in node[1]:
            s, m = _to_span(index, c, budget)
            mult *= m
            if s is None:
                return None, mult  # a required clause matches nothing
            kids.append(s)
        return ("near", kids, node[2] - 1, node[3]), mult
    raise ParseException(f"subquery not allowed in distance op: {kind}")


def _frame(index: InvertedIndex, node, budget: _Budget,
           precision: str) -> S._Sql | None:
    """-> plan(seg, docid, score), or None when the subtree matches
    nothing.  Every child is built (and charged to the budget) before its
    parent combines them."""
    kind = node[0]
    if kind == "term":
        budget.add(1)
        return S._term_set_docs(index, [node[1].lower()], precision)
    if kind in ("prefix", "trunc"):
        terms = _expand(index, node, budget)
        return S._term_set_docs(index, terms, precision) if terms else None
    if kind == "dist":
        tree, mult = _to_span(index, node, budget)
        if tree is None:
            return None
        return S._rescored(_span_scores(index, tree, precision),
                           S._boosted("score", mult, precision))
    if kind in ("or", "and", "not"):
        # OrQuery: all SHOULD; AndQuery: all MUST; NotQuery: first MUST,
        # rest MUST_NOT
        kids = [_frame(index, c, budget, precision) for c in node[1]]
        occurs = {"or": ["should"] * len(kids), "and": ["must"] * len(kids),
                  "not": ["must"] + ["must_not"] * (len(kids) - 1)}[kind]
        return S._compound(list(zip(occurs, kids)), precision)
    if kind == "fields":
        # single-field engine: names parse for syntax compat, then drop
        return _frame(index, node[1], budget, precision)
    if kind == "boost":
        plan = _frame(index, node[1], budget, precision)
        return None if plan is None else S._rescored(
            plan, S._boosted("score", node[2], precision))
    raise ParseException(f"unknown node {kind!r}")


def _score_plan(index: InvertedIndex, query: str, precision: str,
                max_basic_queries: int) -> S._Sql:
    """(seg, docid, score) of every doc matching the surround query."""
    plan = _frame(index, parse_surround(query), _Budget(max_basic_queries),
                  precision)
    return plan or S._rescored(S._no_docs(index, precision), "score")


def surround_score_frame(index: InvertedIndex, query: str,
                         precision: str = "float32",
                         max_basic_queries: int = 1024) -> DataFrame:
    """(seg, docid, score) for every doc matching the surround query."""
    return S._build(_score_plan(index, query, precision, max_basic_queries))


def surround_search(index: InvertedIndex, query: str, k: int = 10,
                    precision: str = "float32",
                    max_basic_queries: int = 1024) -> DataFrame:
    """Parse + execute a surround query -> top-k (key, score)."""
    return S._topk(_score_plan(index, query, precision, max_basic_queries),
                   index, k, precision)
