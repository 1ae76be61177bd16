"""Multi-field indexing + fielded queries.

Lucene documents carry many indexed fields, each with its own analyzer,
postings, norms and collection stats (``document/Document.java``,
``index/FieldInfos.java``); queries address fields as ``field:term`` with
per-field idf/avgdl (the classic QueryParser's fielded-term syntax,
``queryparser/classic/QueryParserBase.java``).

Spark shape: one InvertedIndex per field over the same key space (per-field
stats fall out for free — each field's segstats is its own), wrapped by
MultiFieldIndex; a fielded disjunction is the float sum of per-field BM25
plans aggregated by doc key (``search._compound`` on the key).  Cross-field
scoring matches Lucene: each (field, term) clause scores against ITS
field's stats.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from .indexer import InvertedIndex, build_index
from .search import (_compound, _has_slots, _keyed, _no_docs, _phrase_frame,
                     _phrase_terms, _plan, _Scorer, _Sql, _sql_in,
                     _term_set_docs, _topk, _with_keys)
from ..functions.tokenizer import get_analyzer

__all__ = ["MultiFieldIndex", "build_multifield_index", "search_fielded",
           "search_edismax", "masked_span_query",
           "calculate_min_should_match"]


def calculate_min_should_match(optional_clause_count: int,
                               spec: str) -> int:
    """Solr's minimum-should-match SPEC calculator
    (``solr/core/src/java/org/apache/solr/util/SolrPluginUtils.java:551``,
    ``calculateMinShouldMatch``): plain int, negative int (n - x),
    percentage with truncation toward zero, negative percentage, and
    space-separated conditionals ``upper<value`` evaluated left to
    right (the FIRST condition with n <= upper returns the running
    result; later conditions recompute it).

    One documented deviation: conditionals split on ANY whitespace.
    The reference splits on a single space (``spacePattern``), which
    makes its own test fixtures (" 3 < -25% \\n 10 < -3 ") throw
    NumberFormatException on the stray "\\n" token — verified against
    the compiled reference method; every fixture value in
    SolrPluginUtilsTest.testMinShouldMatchCalculator holds under the
    any-whitespace split."""
    result = optional_clause_count
    spec = spec.strip()
    if "<" in spec:
        spec = re.sub(r"(\s+<\s*)|(\s*<\s+)", "<", spec)
        for s in spec.split():
            parts = s.split("<")
            upper = int(parts[0])
            if optional_clause_count <= upper:
                return result
            result = calculate_min_should_match(optional_clause_count,
                                                parts[1])
        return result
    if "%" in spec:
        percent = int(spec[:spec.index("%")])
        calc = result * percent / 100.0
        result = result + int(calc) if calc < 0 else int(calc)
    else:
        calc = int(spec)
        result = result + calc if calc < 0 else calc
    if optional_clause_count < result:
        return optional_clause_count
    return result if result >= 0 else 0


class MultiFieldIndex:
    def __init__(self, indexes: dict[str, InvertedIndex],
                 default_field: str):
        if default_field not in indexes:
            raise ValueError(f"default field {default_field!r} not indexed")
        self.indexes = indexes
        self.default_field = default_field

    def field(self, name: str) -> InvertedIndex:
        return self.indexes[name]


def build_multifield_index(
    docs: DataFrame,
    key_col: str,
    fields: dict[str, str],          # field name -> text column
    default_field: str,
    num_segments: int = 8,
    analyzers: dict[str, str] | None = None,
) -> MultiFieldIndex:
    analyzers = analyzers or {}
    indexes = {}
    for fname, col in fields.items():
        indexes[fname] = build_index(
            docs, key_col=key_col, text_col=col,
            num_segments=num_segments,
            analyzer=analyzers.get(fname, "english"))
    return MultiFieldIndex(indexes, default_field)


_FIELDED = re.compile(r"(?:([A-Za-z_][A-Za-z0-9_]*):)?(\S+)")


def parse_fielded(query: str, default_field: str) -> list[tuple[str, str]]:
    """'title:foo bar' -> [(title, foo), (default, bar)]."""
    out = []
    for m in _FIELDED.finditer(query):
        out.append((m.group(1) or default_field, m.group(2)))
    return out


def _keyed_scores(idx: InvertedIndex, plan: _Sql, cols: str = "") -> _Sql:
    """A field's (seg, docid, score) plan on the shared doc key: (key,
    score) and the SQL select items ``cols``."""
    frames: dict = {}
    return _Sql(f"SELECT key, score{cols} FROM {_keyed(plan, idx, frames)}",
                frames)


def _top(mfi: MultiFieldIndex, docs: _Sql | None, k: int,
         precision: str) -> DataFrame:
    """Top-k (key, score) of a keyed compound, or of no docs for None."""
    if docs is None:
        idx = mfi.indexes[mfi.default_field]
        return _topk(_no_docs(idx, precision), idx, k, precision)
    return _plan(f"""SELECT key, score FROM ({docs.text})
        ORDER BY score DESC, key ASC LIMIT {int(k)}""", **docs.frames)


def search_fielded(mfi: MultiFieldIndex, query: str, k: int = 10,
                   precision: str = "float32") -> DataFrame:
    """Cross-field disjunction: per-(field, term) BM25 against that field's
    stats, float-summed per doc key; top-k (key, score)."""
    clauses = parse_fielded(query, mfi.default_field)
    by_field: dict[str, list[str]] = {}
    for fname, raw in clauses:
        idx = mfi.indexes.get(fname)
        if idx is None:
            continue
        for t in get_analyzer(idx.analyzer)(raw):
            by_field.setdefault(fname, []).append(t.term)
    docs = _compound(
        [("should", _keyed_scores(
            mfi.indexes[f], _term_set_docs(mfi.indexes[f], terms, precision)))
         for f, terms in by_field.items()], precision, keys=("key",))
    return _top(mfi, docs, k, precision)


def search_edismax(mfi: MultiFieldIndex, query_text: str,
                   qf: dict[str, float], tie: float = 0.0,
                   mm: int | str = 0, k: int = 10,
                   precision: str = "float32",
                   pf: dict[str, float] | None = None) -> DataFrame:
    """ExtendedDisMax (``solr/core/src/java/org/apache/solr/search/
    ExtendedDismaxQParser.java``): each whitespace word of the user query
    becomes a DisjunctionMaxQuery across the ``qf`` fields (per-field
    analysis, per-field stats, per-field boost), clause score =
    max_field + tie * (sum - max); the clause dismaxes are summed, and
    ``mm`` (minimum-should-match) requires that many clauses to hit —
    an int, or a Solr mm SPEC string ("75%", "-2", "3<-25% 10<-3")
    resolved with :func:`calculate_min_should_match` against the number
    of analyzed clauses.  ``pf`` (phrase fields, {field: boost}) adds
    the whole analyzed query as a phrase boost per field: documents
    already matching the main query gain the phrase score (the edismax
    ``pf`` re-ranking — ``ExtendedDismaxQParser.getPhraseQuery``).

    Plan: one statement.  Per (word, field) term clauses keyed by (doc
    key, word), a ``search._compound`` dismax aggregated by (key, word),
    then a should compound of the word rows aggregated by key with the
    resolved mm (each matching word row is a matched clause); pf adds a
    should compound of the phrase plans beside the main query as a must
    clause, and a key-ordered ``LIMIT k`` collects.  Cross-field
    alignment happens on the shared doc key (fields are sibling indexes
    over the same corpus, each read through its own views).
    """
    fields, built = [], set()
    for ci, word in enumerate(query_text.split()):
        for fname, boost in qf.items():
            idx = mfi.indexes.get(fname)
            terms = ([t.term for t in get_analyzer(idx.analyzer)(word)]
                     if idx is not None else [])
            if terms:
                built.add(ci)
                fields.append(("should", _keyed_scores(
                    idx, _term_set_docs(idx, terms, precision, boost),
                    f", {ci} AS clause")))
    # mm SPEC strings resolve against the number of OPTIONAL CLAUSES the
    # parser actually built, not the raw whitespace word count — a word
    # whose per-field analysis yields no terms (e.g. a stopword under an
    # 'english'-analyzed field) produces no clause in Solr's edismax and
    # must not count toward minimum-should-match
    # (``ExtendedDismaxQParser.java`` applies mm via
    # ``SolrPluginUtils.setMinShouldMatch`` to the built BooleanQuery).
    msm = (calculate_min_should_match(len(built), mm)
           if isinstance(mm, str) else mm)
    words = _compound(fields, precision, tie=tie, keys=("key", "clause"))
    docs = _compound([("should", words)], precision, min_should_match=msm,
                     keys=("key",))
    phrases = []
    for fname, boost in (pf or {}).items():
        idx = mfi.indexes.get(fname)
        terms, offsets = (_phrase_terms(idx, query_text)
                          if idx is not None else ([], []))
        if len(terms) >= 2:
            phrases.append(("should", _keyed_scores(idx, _phrase_frame(
                idx, [[t] for t in terms], offsets, precision, boost))))
    if docs is not None and phrases:
        docs = _compound([("must", docs), ("should", _compound(
            phrases, precision, keys=("key",)))], precision, keys=("key",))
    return _top(mfi, docs, k, precision)


# ---------------------------------------------------------------------------
# FieldMaskingSpanQuery
# ---------------------------------------------------------------------------

_MASK_SEP = "\x1f"


def _retag(node, field: str):
    """Resolve ("mask", child, real_field) nodes by tagging every leaf term
    with the field whose postings evaluate it; mask nodes disappear (they
    only change field attribution — ``spans/FieldMaskingSpanQuery.java``:
    the wrapped spans enumerate the REAL field, the query reports the
    masked field)."""
    kind = node[0]
    if kind == "mask":
        return _retag(node[1], node[2])
    if kind == "term":
        return ("term", f"{field}{_MASK_SEP}{node[1]}")
    if kind in ("near",):
        return ("near", [_retag(c, field) for c in node[1]],
                node[2], node[3])
    if kind == "or":
        return ("or", [_retag(c, field) for c in node[1]])
    if kind == "not":
        return ("not", _retag(node[1], field), _retag(node[2], field))
    if kind in ("first", "posrange"):
        return (kind, _retag(node[1], field), *node[2:])
    raise ValueError(f"unknown span node {kind!r}")


def masked_span_query(mfi: MultiFieldIndex, tree, k: int = 10,
                      precision: str = "float32") -> DataFrame:
    """Span tree with ("mask", child, real_field) nodes — the
    FieldMaskingSpanQuery composition: spans from different same-analyzer
    fields participate in ONE near/or/not tree, correct only when the
    fields carry parallel positions (the reference's documented contract).

    Scoring follows the Javadoc note: Similarity + collection statistics
    (avgdl, norm cache) come from the MASKED field (= default field); each
    leaf's term statistics (df for idf) come from its REAL field.

    Plan: per-field postings pruned to that field's leaf terms (parquet
    pushdown), each field-tagged term one slot -> join each field's
    docmeta for the shared key -> union -> per-key (slot, positions)
    hits -> the exact NearSpans kernels (functions/phrasepos.py) -> BM25
    on the span freq with search.py's summed-idf weight ->
    TakeOrderedAndProject."""
    from .spans import (_eval_terms, _required_terms, _span_tree_udf,
                        _tree_terms)

    tagged = _retag(tree, mfi.default_field)
    names = sorted(set(_eval_terms(tagged)))
    by_field: dict[str, list[str]] = {}
    for name in names:
        fld, t = name.split(_MASK_SEP, 1)
        by_field.setdefault(fld, []).append(t)

    # norms of the masked field; term stats of each leaf's real field
    masked_idx = mfi.field(mfi.default_field)
    scorer = _Scorer(masked_idx, [], precision)
    tstats = {fld: mfi.field(fld).term_stats(terms)
              for fld, terms in by_field.items()}
    weight = scorer.summed_weight([
        tstats[fld].get(t, (0, 0))[0] for fld, t in
        (n.split(_MASK_SEP, 1) for n in sorted(set(_tree_terms(tagged))))])

    frames = []
    for fld, terms in sorted(by_field.items()):
        idx = mfi.field(fld)
        if not idx.with_positions:
            raise ValueError(f"field {fld!r} indexed without positions")
        # this field's terms fan out to their own slots only
        slots = [[n.split(_MASK_SEP, 1)[1]]
                 if n.startswith(fld + _MASK_SEP) else [] for n in names]
        fanout = scorer.slot_fanout(slots, weight)
        rows = _plan(f"""
            SELECT seg, slot, w, p.docid AS docid, p.positions AS pos
            FROM (SELECT seg, slot, w, explode(postings) AS p
                  FROM (SELECT seg, postings, inline({fanout}[term])
                        FROM {{postings}} WHERE {_sql_in('term', terms)}))""",
                     postings=idx.postings)
        frames.append(_with_keys(rows, idx).select("key", "slot", "pos", "w"))
    rows = frames[0]
    for f in frames[1:]:
        rows = rows.unionByName(f)

    per_key = rows.groupBy("key").agg(
        F.collect_list(F.struct("slot", "pos")).alias("hits"),
        F.first("w").alias("w"))
    required = _required_terms(tagged)
    if required:
        per_key = per_key.where(
            F.expr(_has_slots(names.index(n) for n in required)))
    return (per_key
            .join(masked_idx.docmeta.select("key", "norm"), "key")
            .withColumn("freq", _span_tree_udf(
                tagged, names, f32=(precision != "float64"))(F.col("hits")))
            .where(F.col("freq") > 0)
            .select("key", F.expr(scorer.score("w"))
                    .cast(scorer._sqltype).alias("score"))
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(k))
