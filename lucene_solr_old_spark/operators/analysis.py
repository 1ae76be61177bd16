"""Analysis operators: documents -> finished posting lists (Arrow UDFs).

The Spark restatement of the reference indexing chain's analysis+inversion
steps (``DocInverterPerField.processFields`` ->
``FreqProxTermsWriterPerField.newTerm/addTerm``; SURVEY.md §3.1): each Spark
partition plays the role of a DocumentsWriterPerThread — documents are
analyzed and inverted with no cross-task coordination.  The fused stage
(make_fused_postings_partition) finishes the whole inversion in the
partition, so the build's only exchange is the doc-routing repartition.

Everything is mapInPandas (Arrow batches); no per-row Python UDFs
(BASELINE.json input_hint mandate).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from ..functions.htmlstrip import html_to_text
from ..functions.smallfloat import doclen_to_norm

def make_html_extractor(html_col: str = "html"):
    """mapInPandas stage: html binary -> extracted text column appended.

    The normative extractor (functions/htmlstrip.py) — the byte-identical
    `text` invariant per url (BASELINE.json input_hint).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = [
                html_to_text(h) if h is not None else ""
                for h in pdf[html_col]
            ]
            yield pdf

    return extract


# fused-inversion output: postings rows (term != NULL) + one docmeta
# sentinel row per doc (term == NULL) interleaved in ONE schema, so a
# single Arrow stage yields both tables with no downstream shuffle.
# Posting lists travel as PARALLEL PRIMITIVE ARRAYS (docid/freq/norm
# columns + nested positions) — Arrow serializes those an order of
# magnitude faster than list-of-struct python objects; Catalyst arrays_zip
# reassembles the struct array JVM-side.
FUSED_SCHEMA = (
    "seg INT, docid INT, key STRING, doclen INT, norm INT, "
    "term STRING, df INT, ttf LONG, "
    "docids ARRAY<INT>, freqs ARRAY<INT>, norms ARRAY<INT>, "
    "poss ARRAY<ARRAY<INT>>"
)

# IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS: per-occurrence
# char offsets ride along in the postings (what PostingsHighlighter reads
# instead of re-analyzing — ``postingshighlight/PostingsHighlighter.java``)
FUSED_SCHEMA_OFFSETS = (
    FUSED_SCHEMA + ", starts ARRAY<ARRAY<INT>>, ends ARRAY<ARRAY<INT>>")


def _offsets_inverter(analyzer: str):
    """(term -> (positions, starts, ends), doclen) from the analyzer's
    token stream — the only form that still carries char offsets."""
    from ..functions.tokenizer import get_analyzer
    analyze_fn = get_analyzer(analyzer)

    def inverted(text: str):
        per: dict[str, tuple] = {}
        toks = analyze_fn(text)
        for t in toks:
            slot = per.get(t.term)
            if slot is None:
                slot = per[t.term] = ([], [], [])
            slot[0].append(t.pos)
            slot[1].append(t.start)
            slot[2].append(t.end)
        return per, len(toks)

    return inverted


def make_fused_postings_partition(key_col: str, text_col: str,
                                  seg_col: str = "seg",
                                  with_positions: bool = True,
                                  analyzer: str = "english",
                                  html_input: bool = False,
                                  with_offsets: bool = False,
                                  emit_chunk: int = 50_000):
    """mapInPandas stage: analyze + FULLY invert a whole partition
    (= segment) in memory, emitting finished docID-sorted posting lists —
    no term shuffle at all.  Output schema: ``FUSED_SCHEMA``, or
    ``FUSED_SCHEMA_OFFSETS`` with ``with_offsets``.

    This is exactly the reference's DocumentsWriterPerThread in-memory
    inversion (``FreqProxTermsWriterPerField.java:100-239``): a segment's
    postings are accumulated per term in the writer's RAM and flushed
    fully formed.  Correct because doc routing already placed EVERY doc of
    the segment in this one partition (seg == partition), so each
    (seg, term) posting list is complete partition-locally and arrives in
    docid order (docs processed in key-sorted order).

    Memory bound: one segment's postings must fit the Python worker
    (Lucene bounds the same structure with the flush policy / 5 GB max
    merged segment); see ``build_index`` for the settings that make
    segments smaller.
    """

    if with_offsets:
        invert_fn = _offsets_inverter(analyzer)
    else:
        from ..functions.tokenizer import get_inverted_analyzer
        invert_fn = get_inverted_analyzer(analyzer)

    def fused_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        next_docid = 0
        seg = None
        meta_rows: list[tuple] = []       # (docid, key, doclen, norm)
        # term -> ([docids], [freqs], [norms], [positions-lists]
        #          [, [starts-lists], [ends-lists]])
        inv: dict[str, tuple] = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            if seg is None and n:
                seg = int(pdf[seg_col].iloc[0])
            keys = pdf[key_col].to_numpy()
            texts = pdf[text_col].to_numpy()
            for i in range(n):
                docid = next_docid
                next_docid += 1
                raw = texts[i]
                if html_input:
                    raw = html_to_text(raw) if raw is not None else ""
                per_term, doclen = invert_fn(raw if raw is not None else "")
                norm = int(doclen_to_norm(doclen))
                meta_rows.append((docid, keys[i], doclen, norm))
                if not doclen:
                    continue
                for term, ps in per_term.items():
                    slot = inv.get(term)
                    if slot is None:
                        slot = (([], [], [], [], [], []) if with_offsets
                                else ([], [], [], []))
                        inv[term] = slot
                    if with_offsets:
                        ps, starts, ends = ps
                        slot[4].append(starts)
                        slot[5].append(ends)
                    slot[0].append(docid)
                    slot[1].append(len(ps))
                    slot[2].append(norm)
                    slot[3].append(ps if with_positions else None)
        if seg is None:
            return
        nm = len(meta_rows)
        meta = {
            "seg": np.full(nm, seg, dtype=np.int32),
            "docid": np.asarray([m[0] for m in meta_rows], dtype=np.int32),
            "key": [m[1] for m in meta_rows],
            "doclen": np.asarray([m[2] for m in meta_rows], dtype=np.int32),
            "norm": np.asarray([m[3] for m in meta_rows], dtype=np.int32),
            "term": [None] * nm,
            "df": np.zeros(nm, dtype=np.int32),
            "ttf": np.zeros(nm, dtype=np.int64),
            "docids": [None] * nm,
            "freqs": [None] * nm,
            "norms": [None] * nm,
            "poss": [None] * nm,
        }
        if with_offsets:
            meta["starts"] = meta["ends"] = [None] * nm
        yield pd.DataFrame(meta)
        terms = list(inv.keys())
        for lo in range(0, len(terms), emit_chunk):
            chunk = terms[lo:lo + emit_chunk]
            slots = [inv[t] for t in chunk]
            nc = len(chunk)
            rows = {
                "seg": np.full(nc, seg, dtype=np.int32),
                "docid": np.zeros(nc, dtype=np.int32),
                "key": [None] * nc,
                "doclen": np.zeros(nc, dtype=np.int32),
                "norm": np.zeros(nc, dtype=np.int32),
                "term": chunk,
                "df": np.asarray([len(s[0]) for s in slots], dtype=np.int32),
                "ttf": np.asarray([sum(s[1]) for s in slots],
                                  dtype=np.int64),
                "docids": [s[0] for s in slots],
                "freqs": [s[1] for s in slots],
                "norms": [s[2] for s in slots],
                "poss": [s[3] if with_positions else None for s in slots],
            }
            if with_offsets:
                rows["starts"] = [s[4] for s in slots]
                rows["ends"] = [s[5] for s in slots]
            yield pd.DataFrame(rows)

    return fused_partition
