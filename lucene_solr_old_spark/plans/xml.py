"""XML query parser (CoreParser) — programmatic query trees over XML.

Re-derivation of the reference's
``lucene/queryparser/src/java/org/apache/lucene/queryparser/xml/CoreParser.java:67-118``
builder registry and its ``builders/`` package, mapped onto this
engine's existing plan objects instead of Lucene Query objects:

==================  =====================================================
XML element         engine mapping
==================  =====================================================
TermQuery           raw (un-analyzed) term -> BM25 term score frame
                    (``TermQueryBuilder.java``: text used verbatim)
TermsQuery          analyzer-tokenized -> SHOULD disjunction with
                    minimumNumberShouldMatch (``TermsQueryBuilder.java``)
MatchAllDocsQuery   every doc, score = boost
BooleanQuery        Clause children with occurs=must/mustnot/should,
                    nested queries allowed; DIRECT children only (the
                    NestedBooleanQuery.xml regression fixture)
DisjunctionMaxQuery max + tieBreaker * rest over child disjuncts
UserQuery           classic-parser syntax via plans/query.parse_query
                    (``UserInputQueryBuilder.java``)
ConstantScoreQuery  filter -> docs at score = boost
FilteredQuery       <Query> scored, semi-joined with <Filter> docs
BoostingQuery       <Query> scored; docs also matching <ContextQuery>
                    have score * boost (``queries/BoostingQuery.java``)
FuzzyLikeThisQuery  per <Field>: analyze, fuzzy-expand each token,
                    disjunction (documented simplification of the
                    reference's prioritized-term flattening)
Span*               SpanTerm / SpanOrTerms / SpanOr / SpanNear /
                    SpanFirst / SpanNot / BoostingTermQuery -> the span
                    tuple trees of operators/spans.py
RangeFilter         metadata column range (attrs) or indexed-term range
NumericRange*       numeric metadata column range
TermsFilter         analyzed terms -> docs containing any
BooleanFilter       filter combination with occurs semantics
CachedFilter        delegates to the wrapped filter/query (the LRU
                    cache maps to Spark's own plan/shuffle reuse)
==================  =====================================================

``fieldName`` resolves with ancestor inheritance exactly like
``DOMUtils.getAttributeWithInheritance``.  The engine indexes one
content field; term/span queries must target it (default any), while
filters may target metadata columns supplied via ``attrs``.

Fixtures: every ``queryparser/src/test/.../xml/*.xml`` file this
surface supports is transcribed in tests/test_xml_query.py.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field as dfield

from pyspark.sql import DataFrame

from ..functions.tokenizer import get_analyzer
from ..operators import search as S
from ..operators.indexer import InvertedIndex
from ..operators.spans import _span_scores
from .query import (FuzzyClause, _bool_plan, _clause_frame, _range_pred,
                    parse_query)

__all__ = ["ParserException", "parse_xml_query", "xml_score_frame",
           "xml_search"]


class ParserException(ValueError):
    """Mirror of ``queryparser/xml/ParserException.java``."""


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

@dataclass
class XTerm:
    field: str | None
    term: str
    boost: float = 1.0


@dataclass
class XTerms:
    field: str | None
    text: str
    boost: float = 1.0
    min_should_match: int = 0


@dataclass
class XMatchAll:
    boost: float = 1.0


@dataclass
class XBool:
    clauses: list = dfield(default_factory=list)   # [(occur, node)]
    boost: float = 1.0
    min_should_match: int = 0


@dataclass
class XDisMax:
    children: list = dfield(default_factory=list)
    tie: float = 0.0
    boost: float = 1.0


@dataclass
class XUser:
    field: str | None
    text: str
    boost: float = 1.0


@dataclass
class XConstantScore:
    filt: object
    boost: float = 1.0


@dataclass
class XFiltered:
    query: object
    filt: object
    boost: float = 1.0


@dataclass
class XBoosting:
    match: object
    context: object
    demote_boost: float = 0.0


@dataclass
class XFuzzyLikeThis:
    fields: list = dfield(default_factory=list)    # [(field, text)]
    max_num_terms: int = 50
    min_similarity: float = 0.5
    prefix_length: int = 0
    boost: float = 1.0


@dataclass
class XSpan:
    field: str | None
    tree: object          # span node tree (terms possibly unanalyzed)
    boost: float = 1.0


# filters
@dataclass
class XRangeFilter:
    field: str
    lower: str
    upper: str
    include_lower: bool = True
    include_upper: bool = True
    numeric: bool = False


@dataclass
class XTermsFilter:
    field: str | None
    text: str


@dataclass
class XBoolFilter:
    clauses: list = dfield(default_factory=list)   # [(occur, filter)]


# --------------------------------------------------------------------------
# parse
# --------------------------------------------------------------------------

def _fattr(e, name, default):
    v = e.get(name)
    return default if v is None else float(v)


def _iattr(e, name, default):
    v = e.get(name)
    return default if v is None else int(v)


def _battr(e, name, default):
    v = e.get(name)
    return default if v is None else v.lower() == "true"


def _text(e) -> str:
    t = "".join(e.itertext()).strip()
    if not t:
        raise ParserException(f"<{e.tag}> requires non-blank text")
    return t


def _children(e):
    return [c for c in e if isinstance(c.tag, str)]


def _first_child(e):
    kids = _children(e)
    if not kids:
        raise ParserException(f"<{e.tag}> requires a child element")
    return kids[0]


def _child_by_tag(e, tag):
    for c in _children(e):
        if c.tag == tag:
            return c
    raise ParserException(f"<{e.tag}> requires a <{tag}> child")


def _occurs(clause) -> str:
    """A Clause's occurs attribute as a ``search._compound`` occur
    (``BooleanQueryBuilder.getOccursValue``)."""
    occ = (clause.get("occurs") or "should").lower()
    if occ not in ("must", "mustnot", "should"):
        raise ParserException(
            f'Invalid value for "occurs" attribute of clause: {occ}')
    return "must_not" if occ == "mustnot" else occ


def parse_xml_query(xml: str):
    """Parse an XML query document to the engine AST."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as exc:
        raise ParserException(f"Error parsing XML stream: {exc}") from exc
    return _parse_query_elem(root, None)


def _parse_query_elem(e, inh_field):
    field = e.get("fieldName") or inh_field
    boost = _fattr(e, "boost", 1.0)
    tag = e.tag
    if tag == "TermQuery":
        return XTerm(field, _text(e), boost)
    if tag == "TermsQuery":
        return XTerms(field, _text(e), boost,
                      _iattr(e, "minimumNumberShouldMatch", 0))
    if tag == "MatchAllDocsQuery":
        return XMatchAll(boost)
    if tag == "BooleanQuery":
        bq = XBool(boost=boost,
                   min_should_match=_iattr(e, "minimumNumberShouldMatch", 0))
        for c in _children(e):
            if c.tag == "Clause":
                bq.clauses.append((_occurs(c), _parse_query_elem(
                    _first_child(c), field)))
        return bq
    if tag == "DisjunctionMaxQuery":
        return XDisMax([_parse_query_elem(c, field) for c in _children(e)],
                       tie=_fattr(e, "tieBreaker", 0.0), boost=boost)
    if tag == "UserQuery":
        return XUser(field, _text(e), boost)
    if tag == "ConstantScoreQuery":
        return XConstantScore(_parse_filter_elem(_first_child(e), field),
                              boost)
    if tag == "FilteredQuery":
        q = _parse_query_elem(_first_child(_child_by_tag(e, "Query")), field)
        f = _parse_filter_elem(_first_child(_child_by_tag(e, "Filter")),
                               field)
        return XFiltered(q, f, boost)
    if tag == "BoostingQuery":
        # queries/BoostingQuery.java: <Query> scored normally, docs also
        # matching <ContextQuery> multiplied by boost (typically < 1)
        q = _parse_query_elem(_first_child(_child_by_tag(e, "Query")), field)
        c = _parse_query_elem(
            _first_child(_child_by_tag(e, "ContextQuery")), field)
        return XBoosting(q, c, _fattr(e, "boost", 0.0))
    if tag == "FuzzyLikeThisQuery":
        flt = XFuzzyLikeThis(
            max_num_terms=_iattr(e, "maxNumTerms", 50),
            min_similarity=_fattr(e, "minSimilarity", 0.5),
            prefix_length=_iattr(e, "prefixLength", 0),
            boost=boost)
        for c in _children(e):
            if c.tag == "Field":
                flt.fields.append((c.get("fieldName") or field, _text(c)))
        return flt
    if tag in ("SpanTerm", "SpanOrTerms", "SpanOr", "SpanNear", "SpanFirst",
               "SpanNot", "BoostingTermQuery"):
        return XSpan(field, _parse_span_elem(e, field), boost)
    raise ParserException(f"No QueryObjectBuilder defined for node {tag}")


def _parse_span_elem(e, inh_field):
    """-> span node; ("orterms", text) is resolved by the executor with
    the index analyzer (``SpanOrTermsBuilder.java`` analyzes at build)."""
    field = e.get("fieldName") or inh_field
    tag = e.tag
    if tag in ("SpanTerm", "BoostingTermQuery"):
        # BoostingTermBuilder: PayloadTermQuery(AveragePayloadFunction);
        # without indexed payloads the average is 1.0, i.e. a SpanTerm
        return ("term", _text(e))
    if tag == "SpanOrTerms":
        return ("orterms", _text(e))
    if tag == "SpanOr":
        return ("or", [_parse_span_elem(c, field) for c in _children(e)])
    if tag == "SpanNear":
        slop = e.get("slop")
        if slop is None:
            raise ParserException("SpanNear requires slop attribute")
        return ("near", [_parse_span_elem(c, field) for c in _children(e)],
                int(slop), _battr(e, "inOrder", False))
    if tag == "SpanFirst":
        return ("first", _parse_span_elem(_first_child(e), field),
                _iattr(e, "end", 1))
    if tag == "SpanNot":
        inc = _parse_span_elem(_first_child(_child_by_tag(e, "Include")),
                               field)
        exc = _parse_span_elem(_first_child(_child_by_tag(e, "Exclude")),
                               field)
        return ("not", inc, exc)
    raise ParserException(f"No SpanQueryObjectBuilder defined for node {tag}")


def _parse_filter_elem(e, inh_field):
    field = e.get("fieldName") or inh_field
    tag = e.tag
    if tag == "RangeFilter":
        return XRangeFilter(field, e.get("lowerTerm") or "",
                            e.get("upperTerm") or "",
                            _battr(e, "includeLower", True),
                            _battr(e, "includeUpper", True))
    if tag == "NumericRangeFilter" or tag == "NumericRangeQuery":
        return XRangeFilter(field, e.get("lowerTerm") or "",
                            e.get("upperTerm") or "",
                            _battr(e, "includeLower", True),
                            _battr(e, "includeUpper", True), numeric=True)
    if tag == "TermsFilter":
        return XTermsFilter(field, _text(e))
    if tag == "BooleanFilter":
        bf = XBoolFilter()
        for c in _children(e):
            if c.tag == "Clause":
                bf.clauses.append((_occurs(c), _parse_filter_elem(
                    _first_child(c), field)))
        return bf
    if tag == "CachedFilter":
        # CachedFilterBuilder LRU-caches the wrapped filter's DocIdSet;
        # Spark reuses the physical plan/shuffle instead — delegate
        return _parse_filter_elem(_first_child(e), field)
    raise ParserException(f"No FilterBuilder defined for node {tag}")


# --------------------------------------------------------------------------
# execute
# --------------------------------------------------------------------------

def _resolve_orterms(tree, analyzer):
    """SpanOrTerms text -> ("or", [term...]) with the index analyzer."""
    kind = tree[0]
    if kind == "orterms":
        terms = [t.term for t in analyzer(tree[1])]
        return ("or", [("term", t) for t in terms])
    if kind == "term":
        return tree
    if kind == "near":
        return ("near", [_resolve_orterms(c, analyzer) for c in tree[1]],
                tree[2], tree[3])
    if kind == "or":
        return ("or", [_resolve_orterms(c, analyzer) for c in tree[1]])
    if kind == "first":
        return ("first", _resolve_orterms(tree[1], analyzer), tree[2])
    if kind == "not":
        return ("not", _resolve_orterms(tree[1], analyzer),
                _resolve_orterms(tree[2], analyzer))
    raise ParserException(f"unknown span node {kind!r}")


class _Executor:
    def __init__(self, index: InvertedIndex, precision: str,
                 attrs: DataFrame | None, content_field: str | None):
        self.index = index
        self.precision = precision
        self.stype = S._stype(precision)
        self.attrs = attrs
        self.content_field = content_field

    # -- field routing ----------------------------------------------------

    def _check_content(self, field):
        if (field is not None and self.content_field is not None
                and field != self.content_field):
            raise ParserException(
                f"field {field!r} is not the indexed content field "
                f"{self.content_field!r}")

    # -- scoring plans ----------------------------------------------------

    def _boost(self, plan: S._Sql, boost: float) -> S._Sql:
        """(seg, docid, score) of ``plan``, the score times ``boost``
        unless that is 1."""
        return S._rescored(plan, "score" if boost == 1.0 else
                           S._boosted("score", boost, self.precision))

    def frame(self, node) -> S._Sql | None:
        """-> plan(seg, docid, score) or None for a match-nothing node."""
        if isinstance(node, XTerm):
            self._check_content(node.field)
            return S._term_set_docs(self.index, [node.term],
                                    self.precision, node.boost)
        if isinstance(node, XTerms):
            self._check_content(node.field)
            analyzer = get_analyzer(self.index.analyzer)
            terms = [t.term for t in analyzer(node.text)]
            if not terms:
                return None
            return S._term_set_docs(self.index, terms, self.precision,
                                    node.boost, node.min_should_match)
        if isinstance(node, XMatchAll):
            return S._rescored(self.index.docmeta,
                               S._sql_num(node.boost, self.stype))
        if isinstance(node, XBool):
            return S._compound(
                ((occ, self.frame(c)) for occ, c in node.clauses),
                self.precision,
                min_should_match=node.min_should_match, boost=node.boost)
        if isinstance(node, XDisMax):
            return S._compound(
                (("should", self.frame(c)) for c in node.children),
                self.precision, tie=node.tie, boost=node.boost)
        if isinstance(node, XUser):
            self._check_content(node.field)
            bq = parse_query(node.text)
            if node.boost != 1.0:
                for cl in bq.must + bq.should:
                    cl.boost *= node.boost
            return _bool_plan(self.index, bq, self.precision)
        if isinstance(node, XConstantScore):
            return S._rescored(self.filter_docs(node.filt),
                               S._sql_num(node.boost, self.stype))
        if isinstance(node, XFiltered):
            f = self.frame(node.query)
            if f is None:
                return None
            frames: dict = {}
            return self._boost(S._Sql(
                f"SELECT * FROM {S._source(f, frames)} LEFT SEMI JOIN "
                f"{S._source(self.filter_docs(node.filt), frames)} "
                "USING (seg, docid)", frames), node.boost)
        if isinstance(node, XBoosting):
            f = self.frame(node.match)
            if f is None:
                return None
            ctx = self.frame(node.context)
            if ctx is None:
                return f
            frames = {}
            demoted = S._boosted("score", node.demote_boost, self.precision)
            return S._Sql(f"""
                SELECT seg, docid,
                       CASE WHEN in_ctx IS NOT NULL THEN {demoted}
                            ELSE score END AS score
                FROM {S._source(f, frames)} LEFT JOIN (
                    SELECT seg, docid, 1 AS in_ctx
                    FROM {S._source(ctx, frames)}) USING (seg, docid)""",
                          frames)
        if isinstance(node, XFuzzyLikeThis):
            return self._fuzzy_like_this_frame(node)
        if isinstance(node, XSpan):
            self._check_content(node.field)
            analyzer = get_analyzer(self.index.analyzer)
            tree = _resolve_orterms(node.tree, analyzer)
            return self._boost(_span_scores(self.index, tree, self.precision),
                               node.boost)
        raise ParserException(f"unsupported query node {type(node).__name__}")

    def _fuzzy_like_this_frame(self, node: XFuzzyLikeThis) -> S._Sql | None:
        # FuzzyLikeThisQuery.java flattens the per-field variants into a
        # prioritized disjunction; simplification (documented): each
        # analyzed token fuzzy-expands (maxEdits from minSimilarity as
        # FuzzyQuery.floatToEdits) and the union scores as a disjunction
        analyzer = get_analyzer(self.index.analyzer)
        max_edits = 1 if node.min_similarity >= 0.5 else 2
        for field, _text in node.fields:
            self._check_content(field)
        return S._compound(
            (("should", _clause_frame(
                self.index, FuzzyClause(tok.term, max_edits, node.boost,
                                        max_expansions=node.max_num_terms),
                self.precision))
             for _field, text in node.fields for tok in analyzer(text)),
            self.precision)

    # -- filters ----------------------------------------------------------

    def filter_docs(self, filt) -> S._Sql:
        """-> plan of the distinct (seg, docid) matching the filter (and
        other columns, which its readers drop)."""
        if isinstance(filt, XRangeFilter):
            if self.attrs is None or filt.field not in self.attrs.columns:
                # indexed content-field term range (TermRangeFilter)
                self._check_content(filt.field)
                return S._docs_where(self.index, _range_pred(filt))
            col = f"`{filt.field}`"
            pred = (_range_pred(filt, f"CAST({col} AS double)",
                                lambda v: S._sql_num(float(v), "double"))
                    if filt.numeric else _range_pred(filt, col))
            frames: dict = {}
            return S._Sql(f"""SELECT DISTINCT seg, docid
                FROM (SELECT seg, docid, key
                      FROM {S._ref(self.index.docmeta, frames)})
                JOIN {S._ref(self.attrs, frames)} USING (key)
                WHERE {pred}""", frames)
        if isinstance(filt, XTermsFilter):
            self._check_content(filt.field)
            analyzer = get_analyzer(self.index.analyzer)
            terms = [t.term for t in analyzer(filt.text)]
            return S._docs_where(self.index, S._sql_in("term", terms))
        if isinstance(filt, XBoolFilter):
            # BooleanFilter: every must filter, one should filter when
            # there are any, no mustnot filter; all documents when only
            # mustnot filters are given
            clauses = [(occ, S._rescored(self.filter_docs(child), "0.0D"))
                       for occ, child in filt.clauses]
            occurs = {occ for occ, _ in clauses}
            if not occurs & {"must", "should"}:
                clauses.append(("must", S._rescored(self.index.docmeta,
                                                    "0.0D")))
            return S._compound(clauses, self.precision,
                               min_should_match=int("should" in occurs))
        raise ParserException(
            f"unsupported filter node {type(filt).__name__}")


def xml_score_frame(index: InvertedIndex, xml, precision: str = "float32",
                    attrs: DataFrame | None = None,
                    content_field: str | None = None) -> DataFrame | None:
    """Parse (if a string) and score an XML query -> (seg, docid, score)
    frame, or None when it matches nothing."""
    return S._build(_xml_plan(index, xml, precision, attrs, content_field))


def _xml_plan(index, xml, precision, attrs, content_field) -> S._Sql | None:
    node = parse_xml_query(xml) if isinstance(xml, str) else xml
    return _Executor(index, precision, attrs, content_field).frame(node)


def xml_search(index: InvertedIndex, xml, k: int = 10,
               precision: str = "float32",
               attrs: DataFrame | None = None,
               content_field: str | None = None) -> DataFrame:
    """CoreParser.parse + IndexSearcher.search: top-k (key, score)."""
    plan = _xml_plan(index, xml, precision, attrs, content_field)
    return S._topk(plan or S._no_docs(index, precision), index, k,
                   precision)
