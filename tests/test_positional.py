"""Differential test of the positional scorer's plumbing.

Phrase (exact and sloppy), multi-phrase and span frames over a 500-page
index are compared, per document key, against a plain-Python oracle: the
pages re-analysed with ``get_analyzer``, and the phrase freq counted
directly (exact alignments) or by the same per-doc kernels of
functions/phrasepos.py.  Any mistake in the gather — slot fan-out of a
repeated term, a stopword hole's offset, a multi-term slot's union, the
every-slot filter — shows as a freq mismatch.
"""

import pytest

from lucene_solr_old_spark.functions.phrasepos import (
    eval_span_tree, sloppy_phrase_freq, span_freq)
from lucene_solr_old_spark.functions.tokenizer import get_analyzer
from lucene_solr_old_spark.operators import search as S
from lucene_solr_old_spark.operators.indexer import build_index
from lucene_solr_old_spark.operators.spans import (multi_phrase,
                                                   span_score_frame)
from lucene_solr_old_spark.sources.pages import PAGES_SCHEMA, gen_pages

PAGES = gen_pages(500, seed=5)
# a plain phrase, a repeated term, a stopword hole, a three-term repeat
PHRASES = ["aad aaeevnqlbaa", "aad aad", "aad to aad", "aad aaferqwx aad"]
MULTI = [[["aad"], ["aaeevnqlbaa", "aaferqwx"]],
         [["aad"], ["aad", "aaferqwx"], ["aad"]]]
TREES = [("near", [("term", "aad"), ("term", "aaferqwx")], 2, True),
         ("near", [("term", "aad"), ("term", "aaeevnqlbaa"),
                   ("term", "aad")], 3, False)]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(PAGES, schema=PAGES_SCHEMA)
    return build_index(df, num_segments=4).persist()


@pytest.fixture(scope="module")
def positions():
    """key -> term -> sorted positions, from the index's analyzer."""
    analyzer = get_analyzer("english")
    out = {}
    for page in PAGES:
        by_term: dict[str, list[int]] = {}
        for t in analyzer(page[3]):
            by_term.setdefault(t.term, []).append(t.pos)
        out[page[0]] = by_term
    return out


def _by_key(idx, frame, col):
    rows = (frame.join(idx.docmeta.select("seg", "docid", "key"),
                       ["seg", "docid"])
            .select("key", col).collect())
    return {r["key"]: r[col] for r in rows}


def _slot_lists(doc, slots):
    """Per slot the union of its terms' positions, or None when a slot is
    empty in ``doc``."""
    lists = [sorted({p for t in slot for p in doc.get(t, [])})
             for slot in slots]
    return lists if all(lists) else None


def _oracle(positions, slots, offsets, slop):
    out = {}
    for key, doc in positions.items():
        lists = _slot_lists(doc, slots)
        if lists is None:
            continue
        if slop == 0:
            # phrase starts at which every slot holds its term
            sets = [set(ps) for ps in lists]
            freq = sum(all(s + off in ps for off, ps in zip(offsets, sets))
                       for s in {p - offsets[0] for p in lists[0]})
        else:
            terms = [slot[0] for slot in slots]
            freq = sloppy_phrase_freq(
                lists, offsets, slop,
                term_ids=[terms.index(t) for t in terms])
        if freq > 0:
            out[key] = float(freq)
    return out


def _phrase_args(idx, text):
    terms, offsets = S._phrase_terms(idx, text)
    return [[t] for t in terms], offsets


@pytest.mark.parametrize("slop", [0, 1, 2])
@pytest.mark.parametrize("text", PHRASES)
def test_phrase_freq_matches_oracle(idx, positions, text, slop):
    slots, offsets = _phrase_args(idx, text)
    frame = S.phrase_score_frame(idx, [s[0] for s in slots], slop=slop,
                                 offsets=offsets)
    want = _oracle(positions, slots, offsets, slop)
    assert want, "fixture phrase matches nothing"
    assert _by_key(idx, frame, "pfreq") == want


def test_stopword_hole_widens_phrase(idx):
    assert _phrase_args(idx, "aad to aad")[1] == [0, 2]


@pytest.mark.parametrize("slots", MULTI, ids=["set_slot", "repeat_in_set"])
def test_multi_phrase_matches_oracle(idx, positions, slots):
    offsets = list(range(len(slots)))
    want = _oracle(positions, slots, offsets, 0)
    assert want and len(want) < len(PAGES)
    got = {r["key"] for r in
           multi_phrase(idx, slots, k=len(PAGES)).collect()}
    assert got == set(want)
    frame = S._build(S._phrase_frame(idx, slots, offsets))
    assert _by_key(idx, frame, "pfreq") == want


@pytest.mark.parametrize("tree", TREES, ids=["ordered", "unordered"])
def test_span_freq_matches_oracle(idx, positions, tree):
    leaves = sorted({c[1] for c in tree[1]})
    want = {}
    for key, doc in positions.items():
        if not all(t in doc for t in leaves):
            continue
        iv = {t: [(p, p + 1) for p in doc[t]] for t in leaves}
        freq = span_freq(eval_span_tree(tree, iv))
        if freq > 0:
            want[key] = freq
    assert want
    assert _by_key(idx, span_score_frame(idx, tree), "sfreq") == want
