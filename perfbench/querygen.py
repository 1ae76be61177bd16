"""Seeded query generation from a generated pages corpus.

Query terms are drawn in proportion to their occurrence counts in the
corpus itself, so head, torso and tail terms occur at the corpus's own
rates.  A fixed share of terms never occurs in the corpus, and another
share are classic Porter-stemmer words.  Phrases are runs of consecutive
words starting at a uniformly drawn corpus position, so phrase and span
queries have real matches.

Each list of queries is a stratified sample: ``STRATUM`` natural draws
per query are ranked by a cost proxy (the summed corpus counts of the
terms the analyzer keeps) and cut into equal strata, and one draw is
taken at random from each stratum.  A query is thus still a draw from
the distribution above, but a list's mix of cheap and costly queries
varies much less from seed to seed.  The list is ordered so that every
prefix spreads over the strata (van der Corput order), since a run uses
the first few queries singly.  The same texts and seed always give the
same queries.
"""

from __future__ import annotations

import bisect
import itertools
import random
import re
from collections import Counter
from dataclasses import dataclass

_WORD = re.compile(r"[a-z]+")

# Shares of query terms that never occur in the corpus and that are Porter
# words.  Both are assumptions, not measured from a query log; every other
# term is drawn by corpus occurrence count.
ABSENT_SHARE = 0.10
PORTER_SHARE = 0.10
STRATUM = 20   # natural draws per query of a stratified list

PORTER_WORDS = (
    "caresses", "ponies", "relational", "meetings", "running", "hopeful",
    "electrical", "adjustable", "formative", "generalization", "activate",
    "universities", "conditional", "sensibilities", "replacement",
)


@dataclass(frozen=True)
class QuerySet:
    boolean: list[tuple[int, str, str]]   # (qid, text, "OR" | "AND")
    phrases: list[str]
    dismax: list[str]

    def by_mode(self, mode: str) -> list[tuple[int, str, str]]:
        return [q for q in self.boolean if q[2] == mode]


def spread_order(n: int) -> list[int]:
    """0..n-1 ordered by the van der Corput sequence: every prefix of
    length k falls into k roughly evenly spaced strata."""
    def vdc(j: int) -> float:
        x, base = 0.0, 0.5
        while j:
            x += base * (j & 1)
            j >>= 1
            base /= 2
        return x
    return sorted(range(n), key=vdc)


class QueryGenerator:
    """``analyze`` maps a text to its indexed terms (the engine's query
    analyzer); it keeps every query from analyzing to nothing, since such
    a query runs no job at all and search_dismax raises on it."""

    def __init__(self, texts: list[str], seed: int, analyze=str.split):
        self.rng = random.Random(seed)
        self.analyze = analyze
        self.doc_words = [_WORD.findall(t.lower()) for t in texts]
        self.counts = Counter(w for ws in self.doc_words for w in ws)
        if not self.counts:
            raise ValueError("corpus has no words")
        vocab = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        self.words = [w for w, _ in vocab]
        self.cum = list(itertools.accumulate(n for _, n in vocab))
        self.doc_ends = list(itertools.accumulate(map(len, self.doc_words)))
        self.absent = [w for w in (f"zq{a}{b}x" for a in "abcdefgh"
                                   for b in "ijklmnop")
                       if w not in self.counts]

    def term(self, u: float) -> str:
        """The query term at share ``u`` of the term distribution: absent
        terms, then Porter words, then corpus words by occurrence."""
        if u < ABSENT_SHARE:
            return self.absent[int(u / ABSENT_SHARE * len(self.absent))]
        u -= ABSENT_SHARE
        if u < PORTER_SHARE:
            return PORTER_WORDS[int(u / PORTER_SHARE * len(PORTER_WORDS))]
        u = (u - PORTER_SHARE) / (1.0 - ABSENT_SHARE - PORTER_SHARE)
        i = bisect.bisect_right(self.cum, u * self.cum[-1])
        return self.words[min(i, len(self.words) - 1)]

    def terms(self, lo: int, hi: int) -> str:
        """``lo``..``hi`` terms that do not all analyze away."""
        n = self.rng.randint(lo, hi)
        while True:
            text = " ".join(self.term(self.rng.random()) for _ in range(n))
            if self.analyze(text):
                return text

    def phrase(self) -> str:
        """2-3 consecutive words from a uniform corpus position that
        analyze to at least two terms."""
        for _ in range(1000):
            pos = self.rng.randrange(self.doc_ends[-1])
            d = bisect.bisect_right(self.doc_ends, pos)
            i = pos - (self.doc_ends[d - 1] if d else 0)
            k = self.rng.randint(2, 3)
            words = self.doc_words[d][i:i + k]
            text = " ".join(words)
            if len(words) == k and len(self.analyze(text)) >= 2:
                return text
        raise ValueError("no phrase that analyzes to two terms")

    def cost(self, text: str) -> int:
        """Summed corpus counts of the words the analyzer keeps."""
        return sum(self.counts.get(w, 0) for w in text.split()
                   if self.analyze(w))

    def stratified(self, draw, n: int) -> list[str]:
        """``n`` draws, one from each of n cost strata of STRATUM * n
        natural draws, in spread order."""
        pool = sorted((self.cost(t), t) for t in
                      (draw() for _ in range(STRATUM * n)))
        picks = [pool[j * STRATUM + self.rng.randrange(STRATUM)][1]
                 for j in range(n)]
        return [picks[j] for j in spread_order(n)]

    def query_set(self, n_boolean: int, n_phrases: int,
                  n_dismax: int) -> QuerySet:
        """``n_boolean`` OR/AND queries (alternating, qids 0..n-1),
        ``n_phrases`` phrase and ``n_dismax`` dismax texts."""
        ors = self.stratified(lambda: self.terms(2, 3), (n_boolean + 1) // 2)
        ands = self.stratified(lambda: self.terms(2, 2), n_boolean // 2)
        boolean = [(i, ors[i // 2], "OR") if i % 2 == 0
                   else (i, ands[i // 2], "AND") for i in range(n_boolean)]
        return QuerySet(boolean, self.stratified(self.phrase, n_phrases),
                        self.stratified(lambda: self.terms(2, 3), n_dismax))
