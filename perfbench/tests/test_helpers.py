"""Tests for the benchmark's own helpers, at tiny sizes (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import stats  # noqa: E402
from querygen import (ABSENT_SHARE, PORTER_SHARE, STRATUM,  # noqa: E402
                      QueryGenerator, spread_order)
from tracing import Tracer, coverage, self_times, union_length  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def _texts(n=60):
    import random

    rng = random.Random(5)
    words = [f"w{i}" for i in range(400)]
    words = ["".join(chr(97 + int(c)) for c in w[1:]) + "x" for w in words]
    return [" ".join(rng.choice(words[: rng.randint(20, 400)])
                     for _ in range(30)) for _ in range(n)]


# -- query generator ---------------------------------------------------------

def test_query_generator_is_deterministic():
    texts = _texts()
    a = QueryGenerator(texts, seed=7).query_set(16, 8, 4)
    b = QueryGenerator(texts, seed=7).query_set(16, 8, 4)
    c = QueryGenerator(texts, seed=8).query_set(16, 8, 4)
    assert a == b
    assert a != c


def test_query_generator_shape():
    qs = QueryGenerator(_texts(), seed=3).query_set(10, 5, 3)
    assert [q[0] for q in qs.boolean] == list(range(10))
    assert {q[2] for q in qs.boolean} == {"OR", "AND"}
    assert len(qs.by_mode("OR")) == 5 and len(qs.by_mode("AND")) == 5
    assert len(qs.phrases) == 5 and len(qs.dismax) == 3
    texts = " ".join(_texts())
    for p in qs.phrases:  # phrases are cut from the corpus
        assert p in texts


def test_queries_never_analyze_to_nothing():
    stop = {"the", "and", "of"}

    def analyze(text):
        return [w for w in text.split() if w not in stop]

    texts = ["the and of " + t for t in _texts()]
    qs = QueryGenerator(texts, seed=4, analyze=analyze).query_set(40, 20, 20)
    for _qid, text, _mode in qs.boolean:
        assert analyze(text)
    for text in qs.dismax:
        assert analyze(text)
    for p in qs.phrases:
        assert len(analyze(p)) >= 2


def test_vocabulary_orders_by_count_then_word():
    assert QueryGenerator(["b a b", "c a b"], seed=1).words == ["b", "a", "c"]


def test_terms_follow_corpus_counts():
    gen = QueryGenerator(["aa aa aa bb"], seed=11)
    n = 20000
    drawn = Counter(gen.term((i + 0.5) / n) for i in range(n))
    assert drawn["aa"] + drawn["bb"] == pytest.approx(
        n * (1 - ABSENT_SHARE - PORTER_SHARE), abs=2)
    assert drawn["aa"] / drawn["bb"] == pytest.approx(3.0, rel=0.01)
    assert sum(drawn[w] for w in gen.absent) == pytest.approx(
        n * ABSENT_SHARE, abs=2)


def test_spread_order_prefixes_spread_out():
    assert spread_order(8) == [0, 4, 2, 6, 1, 5, 3, 7]
    assert sorted(spread_order(6)) == list(range(6))


def test_stratified_takes_one_query_per_cost_stratum():
    gen = QueryGenerator(_texts(), seed=3)
    gen.cost = int
    pool = iter(str(i) for i in reversed(range(4 * STRATUM)))
    picks = gen.stratified(lambda: next(pool), 4)
    assert [int(p) // STRATUM for p in picks] == spread_order(4)


# -- percentiles and sample counts ------------------------------------------

def test_nearest_rank_percentile():
    vals = list(range(1, 101))          # 1..100
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 100) == 100
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([5, 1, 3], 50) == 3


def test_samples_beyond_and_support():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.has_support(100, 90)
    assert not stats.has_support(99, 90)      # rank 90 leaves 9 beyond
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(39) is None


def test_quartile_spread_matches_statistics():
    vals = [10.0, 11.0, 12.0, 13.0, 20.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.rank(10, 0)


# -- event log ------------------------------------------------------------------

def test_event_log_parser_on_fixture():
    with open(FIXTURE) as f:
        groups = eventlog.parse_lines(f)
    g = groups["r1.3"]
    assert g.jobs == 2
    assert g.stages == 3                      # stage 2 was skipped
    assert g.task_run_s == pytest.approx(0.65)
    assert g.task_cpu_s == pytest.approx(0.49)
    assert g.gc_s == pytest.approx(0.015)
    assert g.shuffle_bytes == 4096 + 1024 + 100 + 5020
    assert g.spill_bytes == 640
    assert g.python_bytes == 1250             # sent + returned only
    assert g.input_records == 100
    untagged = groups[None]
    assert (untagged.jobs, untagged.stages, untagged.input_records) == (1, 1, 3)


def test_event_log_counters_add():
    with open(FIXTURE) as f:
        groups = eventlog.parse_lines(f)
    total = eventlog.GroupCounters()
    for g in groups.values():
        total.add(g)
    assert total.jobs == 3 and total.stages == 4
    assert total.task_run_s == pytest.approx(0.67)


def test_event_log_parse_dir(tmp_path):
    (tmp_path / "app").mkdir()
    with open(FIXTURE) as src, open(tmp_path / "app" / "events", "w") as dst:
        dst.write(src.read())
    assert eventlog.parse_dir(str(tmp_path))["r1.3"].jobs == 2


# -- spans ------------------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_spans_self_time_and_coverage():
    tr = Tracer("t", traced=False)
    with tr.span("outer", "build"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.phase == "build"
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 6.0
    st = self_times(tr.spans)
    assert st["outer"] == pytest.approx(6.0)
    assert st["inner"] == pytest.approx(4.0)
    assert coverage(tr.spans, 0.0, 20.0) == pytest.approx(0.5)


def test_warmup_phase_is_inherited():
    tr = Tracer("t", traced=False)
    with tr.span("bench.warmup", "warmup"):
        with tr.span("indexer.save", "save"):
            pass
    assert [s.phase for s in tr.spans] == ["warmup", "warmup"]


def test_span_records_error():
    tr = Tracer("t", traced=False)
    with pytest.raises(RuntimeError):
        with tr.span("boom"):
            raise RuntimeError("x")
    assert tr.spans[0].error == "RuntimeError: x"
    assert tr.spans[0].end is not None
