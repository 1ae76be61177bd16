"""The benchmark workloads, driven through the engine's public API.

Each workload sets up (session, then its inputs and any index it queries,
several times over, then warm-up), then runs a fixed amount of timed work,
checking every output.  ``--seconds`` sizes that work from a reference
time per unit, so every commit runs the same operations and a faster one
simply finishes sooner.  It returns the raw samples; ``report.py`` turns
them into metrics.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from querygen import QueryGenerator

SETUPS = 3          # set-ups per run; setup_s takes their median
QUERY_PAGES = 2000
BATCH_QUERIES = 16
NRT_BATCH = 100
NRT_MERGE_EVERY = 4
# reference seconds per unit of work on a loaded 4-core host (about 7 s
# and 10 s unloaded): a query_mix rotation with its two batch jobs, and
# an nrt_ingest round of NRT_MERGE_EVERY flushes and a merge
ROTATION_S = 8.0
NRT_ROUND_S = 17.0
# small tiers so a round of a few flushes has something to merge
MERGE_POLICY = dict(segs_per_tier=2.0, max_merge_at_once=4,
                    floor_segment_bytes=1024)


@dataclass
class Samples:
    """Raw per-run observations, in seconds unless named otherwise."""
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    op_s: list = field(default_factory=list)        # the workload's unit op
    work_units: float = 0.0                          # docs or queries done
    work_s: float = 0.0                              # time spent on them
    input_bytes: int = 0
    stored_bytes: int = 0
    setup_repeats: list = field(default_factory=list)   # s per set-up
    sizes: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)       # per-workload samples

    def add(self, key: str, value) -> None:
        self.extra.setdefault(key, []).append(value)


def dir_bytes(path: str, sub: str | None = None) -> int:
    root = os.path.join(path, sub) if sub else path
    total = 0
    for d, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def seg_bytes(path: str, seg: int) -> int:
    """Bytes of segment ``seg`` in a segdir index, over every table."""
    return sum(dir_bytes(os.path.join(path, t), f"seg={seg}")
               for t in os.listdir(path)
               if os.path.isdir(os.path.join(path, t, f"seg={seg}")))


# float32 scores summed in a different order (Spark aggregate vs NumPy
# kernel, or another segmentation) differ in the last bits
SCORE_RTOL = 1e-6


def hits(rows) -> list[tuple]:
    return [(r["key"], r["score"]) for r in rows]


def same_hits(a: list[tuple], b: list[tuple]) -> bool:
    """Same keys in the same order, scores equal to float32 precision."""
    return len(a) == len(b) and all(
        ka == kb and abs(sa - sb) <= SCORE_RTOL * max(1.0, abs(sa))
        for (ka, sa), (kb, sb) in zip(a, b))


def per_qid(rows) -> dict[int, list[tuple]]:
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["key"], r["score"]))
    return out


class Workload:
    """Shared plumbing: the session, the tracer, the work size, and the
    attempt/failure bookkeeping every timed operation goes through."""

    name = ""

    def __init__(self, engine, tracer, seed: int, seconds: float,
                 work_dir: str):
        self.E = engine
        self.tr = tracer
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.s = Samples()
        self.spark = None
        self.measure_start = None

    def units(self, unit_s: float) -> int:
        """Units of work that take ``seconds`` on the reference host."""
        return max(1, round(self.seconds / unit_s))

    # -- bookkeeping -------------------------------------------------
    def fail(self, what: str) -> None:
        self.s.failed += 1
        self.s.errors.append(what)

    def attempt(self, fn):
        """Run one timed operation; count it, and count it failed if it
        raises.  Returns (ok, result)."""
        self.s.attempted += 1
        try:
            return True, fn()
        except Exception as exc:  # a failed op is a measured outcome
            self.fail(f"{self.name}: {type(exc).__name__}: {exc}")
            return False, None

    def check(self, ok: bool, what: str) -> bool:
        """An output check; a failed check fails the op it checks."""
        if not ok:
            self.fail(f"{self.name}: check failed: {what}")
        return ok

    def verify(self, fn, what: str) -> bool:
        """A check whose evaluation itself runs engine code; raising
        counts as failing."""
        try:
            ok = bool(fn())
        except Exception as exc:  # the check could not be made
            ok = False
            what = f"{what} ({type(exc).__name__}: {exc})"
        return self.check(ok, what)

    def analyze(self, text: str) -> list[str]:
        """The terms the english analyzer indexes for ``text``."""
        return [t.term for t in self.E.tokenizer.get_analyzer("english")(text)]

    def path(self, *parts) -> str:
        return os.path.join(self.work_dir, *parts)

    # -- phases --------------------------------------------------------
    def start_session(self):
        with self.tr.span("session.get_spark", "setup"):
            self.spark = self.E.get_spark()
        self.tr.attach(self.spark.sparkContext)

    def pages(self, n: int, seed: int, phase: str = "setup"):
        """(rows, DataFrame) of ``n`` generated pages."""
        P = self.E.pages
        with self.tr.span("sources.pages_gen", phase):
            rows = P.gen_pages(n, seed=seed)
            df = self.spark.createDataFrame(rows, P.PAGES_SCHEMA)
        return rows, df

    def run(self) -> Samples:
        self.start_session()
        self.setup()
        self.measure_start = time.perf_counter()
        self.measure()
        return self.s

    def repeat_setup(self, fn) -> None:
        """One of the run's SETUPS set-ups, timed for setup_s's median."""
        t0 = time.perf_counter()
        fn()
        self.s.setup_repeats.append(time.perf_counter() - t0)

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    # -- shared engine steps ---------------------------------------------
    def build(self, df, phase: str = "build"):
        """build_index, materialised inside the span (it is lazy), so the
        analysis and inversion cost lands on this layer, not on save."""
        I = self.E.indexer
        with self.tr.span("indexer.build_index", phase):
            idx = I.build_index(df, html_col="html", analyzer="english")
            idx.postings.count()
        return idx

    def save(self, idx, path: str, phase: str) -> None:
        with self.tr.span("indexer.save", phase):
            idx.save(path)

    def compress_save(self, idx, path: str, phase: str = "compress"):
        """compress_index is lazy: its encoding runs in the save."""
        I = self.E.indexer
        with self.tr.span("indexer.compress_index", phase):
            comp = I.compress_index(idx)
            self.save(comp, path, phase)
        return comp

    def load(self, path: str, phase: str):
        with self.tr.span("indexer.load_index", phase):
            idx = self.E.indexer.load_index(self.spark, path)
            idx.collection_stats()
        return idx

    def release(self) -> None:
        """Drop every cached frame (the fused build stage keeps one)."""
        with self.tr.span("bench.release"):
            self.spark.catalog.clearCache()

    def query(self, span_name: str, make_df, phase: str = "query"):
        """One single query: the seek (analysis, term-stats and
        collection-stats jobs up to the returned DataFrame), then the
        collect.  Returns (rows, span)."""
        with self.tr.span(span_name, phase) as sp:
            with self.tr.span("search.seek"):
                df = make_df()
            with self.tr.span("search.exec"):
                rows = df.collect()
        if self.tr.traced:
            sp.info["plan_ms"] = plan_ms(df)
            sp.info["results"] = len(rows)
        return rows, sp


def plan_ms(df) -> float:
    """Summed Catalyst phase times (analysis, optimization, planning) from
    the DataFrame's query-execution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


class QueryMix(Workload):
    """One closed-loop client: a fixed number of rotations of single
    queries over the plain and compressed indexes, and after each rotation
    the whole OR/AND query set as one batch_search and one
    batch_wand_search job."""

    name = "query_mix"

    def setup(self) -> None:
        for k in range(SETUPS):
            self.repeat_setup(lambda k=k: self.build_query_index(k))
        texts = [r[3] for r in self.rows]
        n = self.units(ROTATION_S)
        # each rotation takes its own OR and AND query and three phrases
        self.qs = QueryGenerator(texts, self.seed, self.analyze).query_set(
            max(BATCH_QUERIES, 2 * n), 3 * n, n)
        with self.tr.span("bench.warmup", "warmup"):
            # the first execution of each plan shape runs JIT-cold, at
            # about twice its steady time: one rotation and both batch
            # jobs over a second, smaller query set
            warm = QueryGenerator(texts, self.seed + 1,
                                  self.analyze).query_set(4, 3, 1)
            for name, make_df, _qid in self.rotation(0, warm):
                self.query(name, make_df)
            for name, make_df in self.batch_jobs(warm):
                with self.tr.span(name):
                    make_df().collect()
        self.s.sizes.update(batch_queries=len(self.qs.boolean),
                            rotations=n, setups=SETUPS)

    def build_query_index(self, k: int) -> None:
        """Generate the corpus, then build → save → compress → save →
        load both indexes, checked like an op."""
        self.rows, df = self.pages(QUERY_PAGES, self.seed)
        html = sum(len(r[2]) for r in self.rows)
        t0 = time.perf_counter()
        idx = self.build(df)
        plain, comp = self.path(f"plain{k}"), self.path(f"compressed{k}")
        self.save(idx, plain, "save")
        self.compress_save(idx, comp)
        self.s.add("build_s", time.perf_counter() - t0)
        with self.tr.span("indexer.collection_stats", "build"):
            built = idx.collection_stats()
        self.release()
        self.plain = self.load(plain, "load")
        self.comp = self.load(comp, "load")
        self.s.attempted += 1
        with self.tr.span("bench.check"):
            self.check(built[0] == QUERY_PAGES
                       and self.plain.collection_stats() == built
                       and self.comp.collection_stats() == built,
                       f"built stats {built} or loaded stats differ from "
                       f"{QUERY_PAGES} pages")
        self.s.sizes = {"pages": QUERY_PAGES, "html_bytes": html}
        self.s.input_bytes = html
        self.s.stored_bytes = dir_bytes(plain) + dir_bytes(comp)
        self.s.extra["plain_postings_bytes"] = dir_bytes(plain, "postings")
        self.s.extra["compressed_postings_bytes"] = dir_bytes(comp, "postings")

    def rotation(self, i: int, qs):
        """The i-th rotation's single queries: (span name, DataFrame
        factory, pairing key).  OR and AND queries run relationally and
        through WAND so the two top-k lists can be compared."""
        S, W, SP = self.E.search, self.E.wand, self.E.spans
        p, c = self.plain, self.comp
        qo, qa = qs.by_mode("OR")[i], qs.by_mode("AND")[i]
        # phrase cost varies with its terms' postings: three phrases per
        # rotation average that out
        ph0, ph2, sp = qs.phrases[3 * i:3 * i + 3]
        dm = qs.dismax[i]
        return [
            ("search.search_or", lambda: S.search_or(p, qo[1]), qo[0]),
            ("wand.wand_search", lambda: W.wand_search(c, qo[1]), qo[0]),
            ("search.search_and", lambda: S.search_and(p, qa[1]), qa[0]),
            ("wand.wand_search_and",
             lambda: W.wand_search(c, qa[1], mode="AND"), qa[0]),
            ("search.search_phrase", lambda: S.search_phrase(p, ph0), None),
            ("search.search_phrase_slop",
             lambda: S.search_phrase(p, ph2, slop=2), None),
            ("search.search_dismax", lambda: S.search_dismax(p, dm), None),
            ("spans.span_near", lambda: SP.span_near(p, sp, slop=2), None),
        ]

    def batch_jobs(self, qs):
        """The whole OR/AND set as one relational and one WAND job."""
        B, W = self.E.batch, self.E.wand
        return (("batch.batch_search",
                 lambda: B.batch_search(self.plain, qs.boolean)),
                ("wand.batch_wand_search",
                 lambda: W.batch_wand_search(self.comp, qs.boolean)))

    def batches(self, singles: dict) -> None:
        n = len(self.qs.boolean)
        results = {}
        for name, fn in self.batch_jobs(self.qs):
            def run(name=name, fn=fn):
                with self.tr.span(name, "batch") as sp:
                    rows = fn().collect()
                return rows, sp
            ok, res = self.attempt(run)
            if not ok:
                continue
            rows, sp = res
            self.s.add(name, sp.duration)
            self.s.work_units += n
            self.s.work_s += sp.duration
            got = per_qid(rows)
            with self.tr.span("bench.check"):
                bad = [q for q, want in singles.items()
                       if not same_hits(got.get(q, []), want)]
                self.check(not bad, f"{name} differs from single-query "
                                    f"top-k for qids {bad}")
            results[name] = got
        if len(results) == 2:
            a, b = results.values()
            self.check(a.keys() == b.keys()
                       and all(same_hits(a[q], b[q]) for q in a),
                       "batch_search and batch_wand_search differ")

    def measure(self) -> None:
        singles: dict[int, list] = {}
        for i in range(self.s.sizes["rotations"]):
            pending: dict = {}
            took = []
            for name, make_df, qid in self.rotation(i, self.qs):
                ok, res = self.attempt(
                    lambda name=name, make_df=make_df: self.query(name,
                                                                  make_df))
                if not ok:
                    continue
                rows, sp = res
                took.append(sp.duration)
                self.s.add("query_s", sp.duration)
                self.s.add(name, sp.duration)
                if qid is None:
                    continue
                got = hits(rows)
                if qid in pending:
                    with self.tr.span("bench.check"):
                        self.check(same_hits(got, pending[qid]),
                                   f"{name} differs from the relational "
                                   f"top-k for qid {qid}")
                    singles[qid] = got
                else:
                    pending[qid] = got
            # a rotation's mean averages over its eight query shapes, so
            # its median is steadier than the median of mixed shapes
            if took:
                self.s.op_s.append(sum(took) / len(took))
            self.batches(singles)


class NrtIngest(Workload):
    """A fixed number of micro-batches flushed onto a segdir index, each
    followed by a reader reopen and one query; every NRT_MERGE_EVERY
    flushes a tiered merge round (find_merges → merge_many → save →
    reopen → query)."""

    name = "nrt_ingest"

    def setup(self) -> None:
        self.flushes = NRT_MERGE_EVERY * self.units(NRT_ROUND_S)
        self.one_shots: dict = {}
        for _ in range(SETUPS):
            self.repeat_setup(self.prepare)
        with self.tr.span("bench.warmup", "warmup"):
            # one flush cycle (two segments) and a merge round of it
            warm = self.path("warmup")
            self.flush_cycle(0, warm, self.rows[:NRT_BATCH], self.queries[0])
            self.merge_round(warm, "warmup", self.queries[0], 0)
            shutil.rmtree(warm, ignore_errors=True)
        self.s.sizes = {"batch_pages": NRT_BATCH, "flushes": self.flushes,
                        "merge_every_flushes": NRT_MERGE_EVERY,
                        "setups": SETUPS}

    def prepare(self) -> None:
        """Generate the pages and queries."""
        P = self.E.pages
        with self.tr.span("sources.pages_gen", "setup"):
            self.rows = P.gen_pages(NRT_BATCH * self.flushes, seed=self.seed)
        self.queries = [q[1] for q in QueryGenerator(
            [r[3] for r in self.rows], self.seed, self.analyze).query_set(
                BATCH_QUERIES, 1, 1).by_mode("OR")]

    def batch_df(self, rows):
        with self.tr.span("sources.pages_gen", "flush"):
            return self.spark.createDataFrame(rows, self.E.pages.PAGES_SCHEMA)

    def flush_cycle(self, bid: int, path: str, rows, q: str):
        """Flush one micro-batch, reopen, query.  Returns (reader, top-k,
        flush s, visible s)."""
        S, N = self.E.search, self.E.incremental
        df = self.batch_df(rows)
        t0 = time.perf_counter()
        with self.tr.span("streaming.flush_index_batch", "flush") as fl:
            N.flush_index_batch(df, bid, path, html_col="html")
        with self.tr.span("streaming.open_nrt_reader", "flush"):
            reader = N.open_nrt_reader(self.spark, path)
        got, _sp = self.query("search.search_or",
                              lambda: S.search_or(reader, q), "flush")
        return reader, hits(got), fl.duration, time.perf_counter() - t0

    def segments(self, path: str):
        M = self.E.merge
        d = os.path.join(path, "postings")
        return [M.SegmentMeta(int(e[4:]), dir_bytes(d, e))
                for e in sorted(os.listdir(d)) if e.startswith("seg=")]

    def merge_round(self, live: str, k, q: str, first_seg: int):
        """Merge the live index's segments into snapshot ``k`` and query
        it.  Flushes keep going to the live directory: a directory
        written by ``save`` stores segstats unpartitioned, which a later
        flush's partitioned segstats cannot share.  ``first_seg`` is the
        first segment flushed since the previous round."""
        M, S = self.E.merge, self.E.search
        snap = self.path(f"snapshot{k}")
        with self.tr.span("merge.round", "merge") as rnd:
            with self.tr.span("bench.segment_sizes"):
                segs = self.segments(live)
            with self.tr.span("merge.find_merges"):
                plan = M.TieredMergePlanner(**MERGE_POLICY).find_merges(segs)
            with self.tr.span("streaming.open_nrt_reader"):
                reader = self.E.incremental.open_nrt_reader(self.spark, live)
            # merge_many is lazy: its scan, renumber and aggregate run in
            # the save
            with self.tr.span("merge.merge_many"):
                self.save(M.merge_many(reader, plan), snap, "merge")
            snap_reader = self.load(snap, "merge")
            got, _sp = self.query("search.search_or",
                                  lambda: S.search_or(snap_reader, q),
                                  "merge")
        # merge_many writes each merge into its group's lowest segment id
        info = {"segments_before": len(segs),
                "segments_after": len(self.segments(snap)),
                "rewritten_bytes": sum(seg_bytes(snap, min(m))
                                       for m in plan),
                "flushed_bytes": sum(seg_bytes(live, sm.seg) for sm in segs
                                     if sm.seg >= first_seg),
                "merge_s": rnd.duration}
        return hits(got), info

    def one_shot(self, rows, q: str):
        """Top-k of a single build_index over the same rows (the last
        merge round and the last flush check the same rows and query)."""
        I, S = self.E.indexer, self.E.search
        key = (len(rows), q)
        if key in self.one_shots:
            return self.one_shots[key]
        with self.tr.span("bench.check"):
            idx = I.build_index(
                self.spark.createDataFrame(rows, self.E.pages.PAGES_SCHEMA),
                html_col="html", analyzer="english")
            want = hits(S.search_or(idx, q).collect())
            self.spark.catalog.clearCache()
        self.one_shots[key] = want
        return want

    def measure(self) -> None:
        live = self.path("live")
        first_seg = 0   # of the flushes since the last merge round
        last = None
        for bid in range(self.flushes):
            rows = self.rows[bid * NRT_BATCH:(bid + 1) * NRT_BATCH]
            q = self.queries[bid % len(self.queries)]
            ok, res = self.attempt(
                lambda: self.flush_cycle(bid, live, rows, q))
            if ok:
                _reader, got, flush_s, visible_s = res
                last = (bid + 1, q, got)
                self.s.op_s.append(visible_s)
                self.s.add("flush_s", flush_s)
                self.s.work_units += NRT_BATCH
                self.s.work_s += visible_s
            if (bid + 1) % NRT_MERGE_EVERY:
                continue
            k = (bid + 1) // NRT_MERGE_EVERY
            ok, res = self.attempt(
                lambda: self.merge_round(live, k, q, first_seg))
            if not ok:
                continue
            merged, info = res
            for key, v in info.items():
                self.s.add(key, v)
            first_seg = max(sm.seg for sm in self.segments(live)) + 1
            n = (bid + 1) * NRT_BATCH
            self.verify(lambda: same_hits(merged,
                                          self.one_shot(self.rows[:n], q)),
                        f"merged snapshot {k} top-k differs from a "
                        "one-shot build")
            shutil.rmtree(self.path(f"snapshot{k}"), ignore_errors=True)
        if last is not None:
            n_batches, q, got = last
            self.verify(lambda: same_hits(got, self.one_shot(
                self.rows[:n_batches * NRT_BATCH], q)),
                "top-k after the last flush differs from a one-shot build")
        self.s.input_bytes = sum(len(r[2]) for r in self.rows)
        self.s.stored_bytes = dir_bytes(live)


WORKLOADS = {w.name: w for w in (QueryMix, NrtIngest)}
