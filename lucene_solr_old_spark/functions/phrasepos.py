"""Exact positional kernels: SloppyPhraseScorer + span algebra.

Per-doc ports of the reference's positional matchers, faithful to the
traversal order (and therefore to the reference's documented asymmetries —
e.g. "a b c"~4 and "c b a"~4 score DIFFERENTLY on "a b c b a" because the
priority-queue walk does not enumerate every combination;
``search/SloppyPhraseScorer.java:82-99``):

  * :class:`LucenePQ` — ``util/PriorityQueue.java`` (1-based binary heap,
    ``lessThan``-driven upHeap/downHeap) so traversal order is identical;
  * :func:`sloppy_phrase_freq` — ``search/SloppyPhraseScorer.java:100-134``
    ``phraseFreq()`` including the repeating-terms machinery
    (``initPhrasePositions``/``advanceRpts``/``collide``, :147-317) for the
    single-term-per-position case (MultiPhraseQuery's multi-term
    positions are exact-only: their aligned starts are counted in Catalyst
    by the shared positional scorer of operators/search.py);
  * :func:`span_near_ordered_matches` — ``search/spans/NearSpansOrdered
    .java:202-354`` (``stretchToOrder`` + ``shrinkToAfterShortestMatch``);
  * :func:`span_near_unordered_matches` — ``search/spans/NearSpansUnordered
    .java:163-211`` (SpansCell linked list + CellQueue, ``atMatch``);
  * :func:`eval_span_tree` — the span-query algebra over per-doc interval
    lists: term / near / or / not / first
    (``spans/SpanOrQuery.java``, ``SpanNotQuery.java``,
    ``SpanFirstQuery.java`` = SpanPositionRangeQuery(0, n)).

All kernels operate on ONE document's position data (sorted int lists);
the distributed side collects per-doc arrays and maps these kernels over
Arrow batches.  Spans are half-open ``(start, end)`` like the reference
(term span at position p = ``(p, p+1)``).

Frequency accumulation follows ``SpanScorer.setFreqCurrentDoc`` /
``SloppyPhraseScorer.phraseFreq``: ``freq += 1/(distance+1)`` per match
(BM25's ``computeSlopFactor``, ``similarities/BM25Similarity.java:246``),
where distance = matchLength.  ``f32=True`` accumulates in float32 like the
JVM; ``f32=False`` gives the float64 oracle-precision variant.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "LucenePQ", "sloppy_phrase_freq", "span_near_ordered_matches",
    "span_near_unordered_matches", "span_or", "span_not", "span_first",
    "span_position_range",
    "eval_span_tree", "span_freq",
]


class LucenePQ:
    """Port of ``util/PriorityQueue.java`` (1-based heap; ``lessThan``
    supplied per instance).  Heap mechanics — not Python's heapq — so that
    pop order under STALE entries (mutated elements still in the heap, as
    ``advanceRpts`` relies on) is bit-identical to the reference."""

    def __init__(self, max_size: int, less_than):
        self.heap = [None] * (max_size + 1)
        self.size = 0
        self.less_than = less_than

    def clear(self) -> None:
        self.size = 0

    def add(self, element):
        self.size += 1
        self.heap[self.size] = element
        self._up_heap()
        return self.heap[1]

    def top(self):
        return self.heap[1] if self.size > 0 else None

    def pop(self):
        if self.size > 0:
            result = self.heap[1]
            self.heap[1] = self.heap[self.size]
            self.heap[self.size] = None
            self.size -= 1
            self._down_heap()
            return result
        return None

    def update_top(self):
        self._down_heap()
        return self.heap[1]

    def _up_heap(self) -> None:
        heap, lt = self.heap, self.less_than
        i = self.size
        node = heap[i]
        j = i >> 1
        while j > 0 and lt(node, heap[j]):
            heap[i] = heap[j]
            i = j
            j = j >> 1
        heap[i] = node

    def _down_heap(self) -> None:
        heap, lt, size = self.heap, self.less_than, self.size
        i = 1
        node = heap[i]
        j = i << 1
        k = j + 1
        if k <= size and lt(heap[k], heap[j]):
            j = k
        while j <= size and lt(heap[j], node):
            heap[i] = heap[j]
            i = j
            j = i << 1
            k = j + 1
            if k <= size and lt(heap[k], heap[j]):
                j = k
        heap[i] = node


# ---------------------------------------------------------------------------
# SloppyPhraseScorer
# ---------------------------------------------------------------------------


class _PP:
    """``search/PhrasePositions.java``: pp.position = tp.pos - offset, so an
    exact phrase aligns all pps at the same position."""

    __slots__ = ("pos_list", "idx", "count", "position", "offset", "ord",
                 "rpt_group", "rpt_ind", "term_id")

    def __init__(self, pos_list, offset: int, ord_: int, term_id):
        self.pos_list = pos_list
        self.offset = offset
        self.ord = ord_
        self.term_id = term_id
        self.rpt_group = -1
        self.rpt_ind = 0
        self.idx = 0
        self.count = 0
        self.position = 0

    def first_position(self) -> bool:
        self.count = len(self.pos_list)
        self.idx = 0
        return self.next_position()

    def next_position(self) -> bool:
        if self.count > 0:
            self.count -= 1
            self.position = int(self.pos_list[self.idx]) - self.offset
            self.idx += 1
            return True
        return False


def _phrase_less(pp1: _PP, pp2: _PP) -> bool:
    """``search/PhraseQueue.java`` lessThan (doc equal within a doc)."""
    if pp1.position == pp2.position:
        if pp1.offset == pp2.offset:
            return pp1.ord < pp2.ord
        return pp1.offset < pp2.offset
    return pp1.position < pp2.position


class _SloppyMatcher:
    """One-doc ``phraseFreq()`` state machine
    (``SloppyPhraseScorer.java:100-134`` + repeat handling :147-317)."""

    def __init__(self, pos_lists, offsets, term_ids, slop: int):
        n = len(pos_lists)
        self.slop = slop
        self.pps = [_PP(pos_lists[i], offsets[i], i, term_ids[i])
                    for i in range(n)]
        self.pq = LucenePQ(n, _phrase_less)
        self.end = -(1 << 62)
        # repeatingTerms() on term ids (single-term pps: grouping by term is
        # exactly the reference's tpPos-collision detection at first doc)
        cnt: dict = {}
        order: list = []
        for pp in self.pps:
            c = cnt.get(pp.term_id, 0) + 1
            cnt[pp.term_id] = c
            if c == 2:
                order.append(pp.term_id)
        self.has_rpts = bool(order)
        self.rpt_groups: list[list[_PP]] = []
        if self.has_rpts:
            for t in order:  # first-repeat order, like the LinkedHashMap
                rg = sorted((pp for pp in self.pps if pp.term_id == t),
                            key=lambda p: p.offset)
                g = len(self.rpt_groups)
                for j, pp in enumerate(rg):
                    pp.rpt_group = g
                    pp.rpt_ind = j
                self.rpt_groups.append(rg)

    # -- helpers -----------------------------------------------------------
    def _advance_pp(self, pp: _PP) -> bool:
        if not pp.next_position():
            return False
        if pp.position > self.end:
            self.end = pp.position
        return True

    @staticmethod
    def _lesser(pp: _PP, pp2: _PP) -> _PP:
        if (pp.position < pp2.position
                or (pp.position == pp2.position and pp.offset < pp2.offset)):
            return pp
        return pp2

    def _collide(self, pp: _PP) -> int:
        tp_pos = pp.position + pp.offset
        for pp2 in self.rpt_groups[pp.rpt_group]:
            if pp2 is not pp and pp2.position + pp2.offset == tp_pos:
                return pp2.rpt_ind
        return -1

    def _advance_rpts(self, pp: _PP) -> bool:
        """``advanceRpts`` (:150-182): resolve the (single possible)
        repeater collision by advancing the lesser pp, then re-heapify the
        mutated in-queue pps via the pop/re-add stack dance."""
        if pp.rpt_group < 0:
            return True
        rg = self.rpt_groups[pp.rpt_group]
        bits: set[int] = set()
        k0 = pp.rpt_ind
        while True:
            k = self._collide(pp)
            if k < 0:
                break
            pp = self._lesser(pp, rg[k])
            if not self._advance_pp(pp):
                return False
            if k != k0:
                bits.add(k)
        stack = []
        while bits:
            pp2 = self.pq.pop()
            stack.append(pp2)
            if pp2.rpt_group >= 0 and pp2.rpt_ind in bits:
                bits.discard(pp2.rpt_ind)
        for pp2 in reversed(stack):
            self.pq.add(pp2)
        return True

    def _init(self) -> bool:
        """``initPhrasePositions`` for one candidate doc: place first
        positions, advance repeat groups, fill the queue."""
        self.end = -(1 << 62)
        for pp in self.pps:
            if not pp.first_position():
                return False  # empty list: not a candidate
        if self.has_rpts:
            # advanceRepeatGroups, non-multi-term branch (:305-314)
            for rg in self.rpt_groups:
                for j in range(1, len(rg)):
                    for _ in range(j):
                        if not rg[j].next_position():
                            return False
        self.pq.clear()
        for pp in self.pps:
            if pp.position > self.end:
                self.end = pp.position
            self.pq.add(pp)
        return True

    def phrase_freq(self, f32: bool = True) -> float:
        if not self._init():
            return 0.0
        one = np.float32(1.0) if f32 else 1.0
        freq = np.float32(0.0) if f32 else 0.0
        pq = self.pq
        pp = pq.pop()
        match_length = self.end - pp.position
        next_ = pq.top().position
        while self._advance_pp(pp):
            if self.has_rpts and not self._advance_rpts(pp):
                break
            if pp.position > next_:
                if match_length <= self.slop:
                    freq = freq + one / (np.float32(match_length + 1)
                                         if f32 else (match_length + 1))
                pq.add(pp)
                pp = pq.pop()
                next_ = pq.top().position
                match_length = self.end - pp.position
            else:
                match_length2 = self.end - pp.position
                if match_length2 < match_length:
                    match_length = match_length2
        if match_length <= self.slop:
            freq = freq + one / (np.float32(match_length + 1)
                                 if f32 else (match_length + 1))
        return float(freq)


def sloppy_phrase_freq(pos_lists, offsets, slop: int,
                       term_ids=None, f32: bool = True) -> float:
    """Sloppy phrase frequency of one doc.

    ``pos_lists[i]``: sorted ABSOLUTE positions of the term at phrase offset
    ``offsets[i]`` (offsets = analyzed query positions, holes included).
    ``term_ids[i]`` identifies equal terms for repeat-group handling
    (defaults to slot index = all distinct).
    """
    if term_ids is None:
        term_ids = list(range(len(pos_lists)))
    return _SloppyMatcher(pos_lists, offsets, term_ids, slop).phrase_freq(f32)


# ---------------------------------------------------------------------------
# NearSpansOrdered
# ---------------------------------------------------------------------------


class _SubSpan:
    """Per-doc sub-span cursor over a sorted interval list."""

    __slots__ = ("intervals", "idx")

    def __init__(self, intervals):
        self.intervals = intervals
        self.idx = 0

    def start(self) -> int:
        return self.intervals[self.idx][0]

    def end(self) -> int:
        return self.intervals[self.idx][1]

    def next(self) -> bool:  # within-doc: exhausting == leaving the doc
        self.idx += 1
        return self.idx < len(self.intervals)


def _spans_ordered(s1: _SubSpan, s2: _SubSpan) -> bool:
    """``NearSpansOrdered.docSpansOrdered``: s1 before s2 (ties: shorter
    end wins)."""
    start1, start2 = s1.start(), s2.start()
    return (s1.end() < s2.end()) if start1 == start2 else (start1 < start2)


def span_near_ordered_matches(interval_lists, slop: int):
    """All (start, end, matchSlop) matches NearSpansOrdered emits for one
    doc, in emission order (``advanceAfterOrdered`` loop, :202-354)."""
    subs = [_SubSpan(iv) for iv in interval_lists]
    if any(len(s.intervals) == 0 for s in subs):
        return []
    out = []
    more = True
    in_same_doc = True
    while more and in_same_doc:
        # stretchToOrder (:261-276)
        i = 1
        while in_same_doc and i < len(subs):
            while not _spans_ordered(subs[i - 1], subs[i]):
                if not subs[i].next():
                    in_same_doc = False
                    more = False
                    break
            i += 1
        if not in_same_doc:
            break
        # shrinkToAfterShortestMatch (:282-354)
        match_start = subs[-1].start()
        match_end = subs[-1].end()
        match_slop = 0
        last_start, last_end = match_start, match_end
        for i in range(len(subs) - 2, -1, -1):
            prev = subs[i]
            prev_start, prev_end = prev.start(), prev.end()
            while True:  # advance prev until just after (last_start,last_end)
                if not prev.next():
                    in_same_doc = False
                    more = False
                    break
                pp_start, pp_end = prev.start(), prev.end()
                if not ((pp_start == last_start and pp_end < last_end)
                        or pp_start < last_start):
                    break  # no longer before: stop
                prev_start, prev_end = pp_start, pp_end
            if match_start > prev_end:  # only non-overlap adds slop
                match_slop += match_start - prev_end
            match_start = prev_start
            last_start, last_end = prev_start, prev_end
        if match_slop <= slop:
            out.append((match_start, match_end, match_slop))
    return out


# ---------------------------------------------------------------------------
# NearSpansUnordered
# ---------------------------------------------------------------------------


class _Cell:
    """``NearSpansUnordered.SpansCell`` within one doc."""

    __slots__ = ("sub", "index", "length", "next_cell")

    def __init__(self, sub: _SubSpan, index: int):
        self.sub = sub
        self.index = index
        self.length = -1
        self.next_cell = None

    def start(self) -> int:
        return self.sub.start()

    def end(self) -> int:
        return self.sub.end()


def span_near_unordered_matches(interval_lists, slop: int):
    """All (min_start, max_end) matches NearSpansUnordered emits for one
    doc (``next()`` :163-211; ``atMatch`` = max.end - min.start -
    totalLength <= slop)."""
    subs = [_SubSpan(iv) for iv in interval_lists]
    if any(len(s.intervals) == 0 for s in subs):
        return []
    cells = [_Cell(s, i) for i, s in enumerate(subs)]
    state = {"total": 0, "max": None}

    def adjust(cell: _Cell, cond: bool) -> bool:
        if cell.length != -1:
            state["total"] -= cell.length
        if cond:
            cell.length = cell.end() - cell.start()
            state["total"] += cell.length
            mx = state["max"]
            if mx is None or cell.end() > mx.end():
                state["max"] = cell
        return cond

    def cell_next(cell: _Cell) -> bool:
        return adjust(cell, cell.sub.next())

    def lt(c1: _Cell, c2: _Cell) -> bool:  # CellQueue.lessThan, same doc
        s1, s2 = c1.start(), c2.start()
        return (c1.end() < c2.end()) if s1 == s2 else (s1 < s2)

    pq = LucenePQ(len(cells), lt)
    # initList(true): first entry of each cell
    for c in cells:
        adjust(c, True)  # all lists non-empty: position at first interval
    for c in cells:
        pq.add(c)

    out = []
    more = True
    while more:
        mn = pq.top()
        mx = state["max"]
        if (mx.end() - mn.start() - state["total"]) <= slop:  # atMatch
            out.append((mn.start(), mx.end()))
        more = cell_next(pq.top())
        if more:
            pq.update_top()
    return out


# ---------------------------------------------------------------------------
# span algebra over per-doc interval lists
# ---------------------------------------------------------------------------


def span_or(interval_lists):
    """``spans/SpanOrQuery.java``: union of sub-spans, emitted in
    (start, end) order (the SpanQueue ordering)."""
    merged = sorted(iv for lst in interval_lists for iv in lst)
    return merged


def span_not(include, exclude):
    """``spans/SpanNotQuery.java``: include spans that overlap NO exclude
    span (overlap = not (excl.end <= inc.start or excl.start >= inc.end))."""
    out = []
    for s, e in include:
        if not any(xs < e and xe > s for xs, xe in exclude):
            out.append((s, e))
    return out


def span_first(spans, n: int):
    """``spans/SpanFirstQuery.java`` = SpanPositionRangeQuery(0, n):
    keep spans with ``end() <= n``."""
    return span_position_range(spans, 0, n)


def span_position_range(spans, start: int, end: int):
    """``spans/SpanPositionRangeQuery.java:58-62`` acceptPosition:
    keep spans fully inside [start, end] (start() >= start AND
    end() <= end)."""
    return [(s, e) for s, e in spans if s >= start and e <= end]


def eval_span_tree(node, term_intervals: dict):
    """Evaluate a span-query tree for one doc.

    node = ("term", t) | ("near", [children], slop, in_order)
         | ("or", [children]) | ("not", include, exclude)
         | ("first", child, n) | ("posrange", child, start, end)
    ``term_intervals``: term -> sorted [(pos, pos+1), ...] for this doc.
    Returns the match interval list in emission order.
    """
    kind = node[0]
    if kind == "term":
        return term_intervals.get(node[1], [])
    if kind == "near":
        child_ivs = [eval_span_tree(c, term_intervals) for c in node[1]]
        if node[3]:
            return [(s, e) for s, e, _ in
                    span_near_ordered_matches(child_ivs, node[2])]
        return span_near_unordered_matches(child_ivs, node[2])
    if kind == "or":
        return span_or([eval_span_tree(c, term_intervals) for c in node[1]])
    if kind == "not":
        return span_not(eval_span_tree(node[1], term_intervals),
                        eval_span_tree(node[2], term_intervals))
    if kind == "first":
        return span_first(eval_span_tree(node[1], term_intervals), node[2])
    if kind == "posrange":
        return span_position_range(
            eval_span_tree(node[1], term_intervals), node[2], node[3])
    raise ValueError(f"unknown span node {node[0]!r}")


def span_freq(matches, f32: bool = True) -> float:
    """``SpanScorer.setFreqCurrentDoc``: freq += sloppyFreq(end - start)
    per match (BM25 computeSlopFactor = 1/(distance+1))."""
    if f32:
        acc = np.float32(0.0)
        for s, e in matches:
            acc = acc + np.float32(1.0) / np.float32((e - s) + 1)
        return float(acc)
    acc = 0.0
    for s, e in matches:
        acc += 1.0 / ((e - s) + 1)
    return acc
