"""Highlighting — snippet extraction around query matches.

Two variants of the classic re-analysis Highlighter
(``lucene/highlighter/.../highlight/Highlighter.java``: re-tokenize the
stored field, locate query-term tokens, emit best fragment):

  * ``highlight_first`` — Catalyst-only: fragment around the FIRST
    occurrence of any query term (locate + substr; JVM codegen, and
    ANSI-SQL-reproducible for the correctness gate);
  * ``highlight_analyzed`` — token-accurate: re-analyzes the stored text
    with the index's analyzer, finds matching tokens by TERM (so "Running"
    highlights for query "run" under the english chain), wraps matches in
    <em> tags within the best fragment — the faithful Highlighter behavior,
    as an Arrow-batched UDF.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from ..functions.tokenizer import get_analyzer
from .search import _with_keys

__all__ = ["highlight_first", "highlight_analyzed", "postings_highlight",
           "fvh_highlight"]


def highlight_first(docs: DataFrame, term: str, frag: int = 20,
                    key_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(key, snippet) for docs containing ``term`` as a substring —
    fragment = term ± ``frag`` chars.  Catalyst expressions only."""
    pos = F.locate(term, F.col(text_col))  # 1-based; 0 = no match
    start1 = F.greatest(F.lit(1), pos - frag)
    end1 = F.least(F.length(text_col), pos + len(term) - 1 + frag)
    return (docs.where(pos > 0)
            .select(F.col(key_col),
                    F.substring(F.col(text_col), start1,
                                end1 - start1 + 1).alias("snippet")))


def highlight_analyzed(docs: DataFrame, query_text: str,
                       analyzer: str = "english", frag: int = 30,
                       key_col: str = "key", text_col: str = "text",
                       pre: str = "<em>", post: str = "</em>") -> DataFrame:
    """(key, snippet) — token-accurate highlighting via re-analysis."""
    analyze = get_analyzer(analyzer)
    qterms = {t.term for t in analyze(query_text)}

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            keys, snippets = [], []
            for key, text in zip(pdf[key_col], pdf[text_col]):
                text = text or ""
                matches = [(t.start, t.end) for t in analyze(text)
                           if t.term in qterms]
                if not matches:
                    continue
                s0, e0 = matches[0]
                lo = max(0, s0 - frag)
                hi = min(len(text), e0 + frag)
                # mark every match inside the fragment, right-to-left
                out = text[lo:hi]
                for s, e in reversed([m for m in matches
                                      if m[0] >= lo and m[1] <= hi]):
                    out = (out[:s - lo] + pre + out[s - lo:e - lo] + post
                           + out[e - lo:])
                keys.append(key)
                snippets.append(out)
            yield pd.DataFrame({key_col: keys, "snippet": snippets})

    return docs.select(key_col, text_col).mapInPandas(
        run, schema=f"{key_col} STRING, snippet STRING")


def postings_highlight(index, docs: DataFrame, query_text: str,
                       frag: int = 20, key_col: str = "key",
                       text_col: str = "text") -> DataFrame:
    """(key, snippet) WITHOUT re-analysis — the PostingsHighlighter model
    (``lucene/highlighter/.../postingshighlight/PostingsHighlighter.java``:
    match offsets come from the postings' stored offsets, so highlighting
    never re-tokenizes the document).  Requires an index built with
    ``with_offsets=True``.

    Plan: postings pruned to the query terms -> first-occurrence offset
    per doc (min over (start, end) structs) -> join the stored field ->
    Catalyst substring.  The stored text is touched once, only for
    matching docs."""
    if not getattr(index, "with_offsets", False):
        raise ValueError("postings_highlight requires with_offsets=True")
    qterms = sorted({t.term for t in
                     get_analyzer(index.analyzer)(query_text)})
    occ = (index.postings.where(F.col("term").isin(qterms))
           .select("seg", F.explode("postings").alias("p"))
           .select("seg", "p.docid", F.element_at("p.starts", 1).alias("s0"),
                   F.element_at("p.ends", 1).alias("e0")))
    first = occ.groupBy("seg", "docid").agg(
        F.min(F.struct("s0", "e0")).alias("m"))
    with_keys = (_with_keys(first, index)
                 .select(F.col("key").alias(key_col),
                         F.col("m.s0").alias("s0"),
                         F.col("m.e0").alias("e0")))
    joined = with_keys.join(docs.select(F.col(key_col), F.col(text_col)),
                            key_col)
    lo = F.greatest(F.lit(0), F.col("s0") - frag)       # 0-based
    hi = F.least(F.length(text_col), F.col("e0") + frag)
    return joined.select(
        F.col(key_col),
        F.substring(F.col(text_col), lo + 1, hi - lo).alias("snippet"))


def _phrase_matches(tokens, phrases):
    """FieldPhraseList.java:60-134 outcome: every (start_off, end_off,
    n_terms) span where a query phrase occurs at consecutive positions.
    ``tokens`` is the position-sorted FieldTermStack; single-term phrases
    degrade to plain term matches."""
    by_pos: dict[int, list] = {}
    for t in tokens:
        by_pos.setdefault(t.pos, []).append(t)
    out = []
    for phrase in phrases:
        n = len(phrase)
        if n == 0:
            continue
        for t0 in tokens:
            if t0.term != phrase[0]:
                continue
            end_tok, ok = t0, True
            for i in range(1, n):
                nxt = [t for t in by_pos.get(t0.pos + i, [])
                       if t.term == phrase[i]]
                if not nxt:
                    ok = False
                    break
                end_tok = nxt[0]
            if ok:
                out.append((t0.start, end_tok.end, n))
    out.sort()
    return out


def fvh_highlight(docs: DataFrame, query_phrases: list[str],
                  analyzer: str = "english", frag_size: int = 100,
                  max_frags: int = 2, margin: int = 6,
                  key_col: str = "key", text_col: str = "text",
                  pre: str = "<b>", post: str = "</b>") -> DataFrame:
    """FastVectorHighlighter analogue (``lucene/highlighter/src/java/org/
    apache/lucene/search/vectorhighlight/``): phrase-aware, multi-fragment,
    score-ordered highlighting.

      * FieldTermStack (``FieldTermStack.java``) — per-doc (term, pos,
        start, end) list; the reference reads it from stored term vectors
        with offsets, this engine recovers it by re-analysis (same tokens,
        same offsets — the classic-Highlighter fallback the reference also
        ships).
      * FieldPhraseList (``FieldPhraseList.java:60-134``) — full-phrase
        occurrence spans: a phrase query highlights only where ALL its
        terms occur at consecutive positions (the capability the classic
        per-term Highlighter lacks).
      * SimpleFragListBuilder (``SimpleFragListBuilder.java:32-76``) —
        greedy left-to-right fragment windows of ``frag_size`` chars
        opened ``margin`` chars before the first uncovered phrase.
      * ScoreOrderFragmentsBuilder (``ScoreOrderFragmentsBuilder.java``)
        — fragments ordered by total phrase weight (= matched term count
        here; boosts are uniform), top ``max_frags`` returned, every
        phrase span inside a fragment wrapped in ``pre``/``post``.

    Returns (key, frag_rank, score, snippet), one row per emitted
    fragment.  Arrow-batched per-doc kernel; docs with no phrase match
    produce no rows."""
    analyze = get_analyzer(analyzer)
    phrases = [[t.term for t in analyze(p)] for p in query_phrases]
    phrases = [p for p in phrases if p]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd
        for pdf in batches:
            keys, ranks, scores, snippets = [], [], [], []
            for key, text in zip(pdf[key_col], pdf[text_col]):
                text = text or ""
                spans = _phrase_matches(analyze(text), phrases)
                if not spans:
                    continue
                # SimpleFragListBuilder: greedy non-overlapping windows
                # (startOffset = max(lastEndOffset, matchStart - margin),
                # SimpleFragListBuilder.java:46-58)
                frags = []  # (lo, hi, [spans], score)
                i, last_hi = 0, 0
                while i < len(spans):
                    # never push lo past the span start (a span crossing
                    # the previous window must stay fully inside its own)
                    lo = min(max(last_hi, max(0, spans[i][0] - margin)),
                             spans[i][0])
                    hi = min(len(text), lo + frag_size)
                    inside, score = [], 0.0
                    while i < len(spans) and spans[i][1] <= hi:
                        inside.append(spans[i])
                        score += spans[i][2]
                        i += 1
                    if not inside:      # span longer than the window
                        inside.append(spans[i])
                        score += spans[i][2]
                        hi = min(len(text), spans[i][1])
                        i += 1
                    frags.append((lo, hi, inside, score))
                    last_hi = hi
                frags.sort(key=lambda f: (-f[3], f[0]))
                for rank, (lo, hi, inside, score) in enumerate(
                        frags[:max_frags]):
                    out = text[lo:hi]
                    for s, e, _ in reversed(inside):
                        out = (out[:s - lo] + pre + out[s - lo:e - lo]
                               + post + out[e - lo:])
                    keys.append(key)
                    ranks.append(rank)
                    scores.append(score)
                    snippets.append(out)
            yield pd.DataFrame({key_col: keys, "frag_rank": ranks,
                                "score": scores, "snippet": snippets})

    return docs.select(key_col, text_col).mapInPandas(
        run, schema=f"{key_col} STRING, frag_rank INT, "
                    "score DOUBLE, snippet STRING")
