"""Turn one run's samples, spans and event log into named metrics.

``end_to_end`` gives the metrics declared in BENCHMARK.json (the same
names on every workload); ``headline`` gives each workload's own named
metrics with units and sample counts for the human-readable report;
``per_layer`` gives the traced run's layer metrics.  A layer a workload
does not exercise reads 0.
"""

from __future__ import annotations

import stats
from tracing import WARMUP, phase_wall

PHASES = ("build", "save", "compress", "query", "batch", "flush", "merge")
PHASE_COUNTERS = ("jobs", "stages", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_bytes", "spill_bytes", "python_bytes")

QUERY_SPANS = (
    ("search.search_or_ms", "search.search_or"),
    ("search.search_and_ms", "search.search_and"),
    ("search.search_phrase_ms", "search.search_phrase"),
    ("search.search_phrase_slop_ms", "search.search_phrase_slop"),
    ("search.search_dismax_ms", "search.search_dismax"),
    ("spans.span_near_ms", "spans.span_near"),
    ("wand.wand_search_ms", "wand.wand_search"),
    ("wand.wand_search_and_ms", "wand.wand_search_and"),
)
QUERY_NAMES = {span for _m, span in QUERY_SPANS}


def end_to_end(run) -> dict[str, tuple[float, str]]:
    s = run.samples
    return {
        "setup_s": (run.setup_s, "s"),
        "peak_rss_mb": (run.peak_rss_bytes / 2**20, "MB"),
        "op_p50_ms": (stats.median(s.op_s) * 1e3, "ms"),
        "work_per_s": (s.work_units / s.work_s, "1/s"),
        "stored_bytes_per_input_byte": (s.stored_bytes / s.input_bytes,
                                        "ratio"),
    }


def headline(workload: str, run) -> list[tuple[str, float, str, int]]:
    """(name, value, unit, samples) rows for the human-readable report."""
    s = run.samples
    rows = [("setup_s", run.setup_s, "s", len(s.setup_repeats)),
            ("setup_wall_s", run.setup_wall_s, "s", 1),
            ("error_rate", s.failed / max(1, s.attempted), "failed/attempted",
             s.attempted),
            ("peak_rss_mb", run.peak_rss_bytes / 2**20, "MB", run.rss_samples)]
    if workload == "query_mix":
        q = s.extra["query_s"]
        rows += [("query_p50_ms", stats.median(q) * 1e3, "ms", len(q))]
        if stats.has_support(len(q), 90):
            rows.append(("query_p90_ms", stats.percentile(q, 90) * 1e3, "ms",
                         len(q)))
        else:
            tail = stats.tail_percentile(len(q))
            rows.append(("query_p90_ms", float("nan"), "ms", len(q)))
            if tail is not None:
                rows.append((f"query_p{tail:g}_ms",
                             stats.percentile(q, tail) * 1e3, "ms", len(q)))
        n_batch = sum(len(s.extra.get(k, [])) for k in
                      ("batch.batch_search", "wand.batch_wand_search"))
        rows.append(("batch_queries_per_s", s.work_units / s.work_s,
                     "queries/s", n_batch))
        builds = s.extra["build_s"]
        rows.append(("setup_build_docs_per_s",
                     s.sizes["pages"] / stats.median(builds), "pages/s",
                     len(builds)))
    elif workload == "nrt_ingest":
        rows += [("flush_p50_ms",
                  stats.median(s.extra["flush_s"]) * 1e3, "ms",
                  len(s.extra["flush_s"])),
                 ("visible_p50_ms", stats.median(s.op_s) * 1e3, "ms",
                  len(s.op_s))]
        merges = s.extra.get("merge_s", [])
        rows.append(("merge_s", stats.median(merges) if merges
                     else float("nan"), "s", len(merges)))
    return rows


class _Layers:
    def __init__(self, run, groups):
        self.spans = [sp for sp in run.tracer.spans if sp.phase != WARMUP]
        self.groups = groups

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        return [sp.duration for sp in self.spans if sp.name == name
                and (phase is None or sp.phase == phase)]

    def med(self, name: str, phase: str | None = None,
            scale: float = 1.0) -> float:
        d = self.durations(name, phase)
        return stats.median(d) * scale if d else 0.0

    def counters(self, spans):
        from eventlog import GroupCounters

        total = GroupCounters()
        for sp in spans:
            c = self.groups.get(sp.group)
            if c is not None:
                total.add(c)
        return total


def per_layer(run, groups) -> dict[str, tuple[float, str]]:
    """Layer metrics of a traced run; ``groups`` maps job group id to
    event-log counters."""
    L = _Layers(run, groups)
    s = run.samples
    ex = s.extra
    m: dict[str, tuple[float, str]] = {}

    m["session.get_spark_s"] = (L.med("session.get_spark"), "s")
    m["sources.pages_gen_s"] = (sum(L.durations("sources.pages_gen",
                                                "setup")), "s")
    m["indexer.build_index_s"] = (L.med("indexer.build_index"), "s")
    m["indexer.compress_index_s"] = (L.med("indexer.compress_index"), "s")
    m["indexer.save_s"] = (L.med("indexer.save", "save"), "s")
    m["indexer.load_index_s"] = (L.med("indexer.load_index"), "s")
    m["indexer.stored_bytes"] = (float(s.stored_bytes), "bytes")
    plain = ex.get("plain_postings_bytes")
    m["indexer.compressed_to_plain_postings"] = (
        ex["compressed_postings_bytes"] / plain if plain else 0.0, "ratio")

    queries = [sp for sp in L.spans if sp.name in QUERY_NAMES]
    seeks = [sp for sp in L.spans if sp.name == "search.seek"]
    execs = [sp for sp in L.spans if sp.name == "search.exec"]
    m["search.seek_ms"] = (L.med("search.seek", scale=1e3), "ms")
    m["search.seek_jobs"] = (L.counters(seeks).jobs / len(seeks)
                             if seeks else 0.0, "count")
    plans = [sp.info["plan_ms"] for sp in queries if "plan_ms" in sp.info]
    m["search.plan_ms"] = (stats.median(plans) if plans else 0.0, "ms")
    m["search.exec_ms"] = (L.med("search.exec", scale=1e3), "ms")
    results = sum(sp.info.get("results", 0) for sp in queries)
    m["search.postings_rows_per_result"] = (
        L.counters(execs).input_records / results if results else 0.0,
        "ratio")
    for metric, span in QUERY_SPANS:
        m[metric] = (L.med(span, "query", 1e3), "ms")
    m["batch.batch_search_s"] = (L.med("batch.batch_search"), "s")
    m["wand.batch_wand_search_s"] = (L.med("wand.batch_wand_search"), "s")
    m["streaming.flush_index_batch_ms"] = (
        L.med("streaming.flush_index_batch", "flush", 1e3), "ms")
    m["streaming.open_nrt_reader_ms"] = (
        L.med("streaming.open_nrt_reader", "flush", 1e3), "ms")
    m["merge.find_merges_ms"] = (L.med("merge.find_merges", scale=1e3), "ms")
    m["merge.merge_many_s"] = (L.med("merge.merge_many"), "s")
    flushed = sum(ex.get("flushed_bytes", []))
    m["merge.bytes_rewritten_per_flushed_byte"] = (
        sum(ex.get("rewritten_bytes", [])) / flushed if flushed else 0.0,
        "ratio")
    for key in ("segments_before", "segments_after"):
        v = ex.get(key)
        m[f"merge.{key}"] = (float(stats.median(v)) if v else 0.0, "count")

    slots = run.slots
    for ph in PHASES:
        c = L.counters([sp for sp in L.spans if sp.phase == ph])
        for name in PHASE_COUNTERS:
            unit = "s" if name.endswith("_s") else (
                "bytes" if name.endswith("_bytes") else "count")
            m[f"{ph}.{name}"] = (float(getattr(c, name)), unit)
        wall = phase_wall(L.spans, ph)
        m[f"{ph}.slot_idle_frac"] = (
            1.0 - c.task_run_s / (wall * slots) if wall else 0.0, "ratio")

    m["trace.coverage"] = (run.coverage, "ratio")
    for k, (v, unit) in end_to_end(run).items():
        m[f"trace.{k}"] = (v, unit)
    return m
