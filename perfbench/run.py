"""Benchmark entry point: one seeded workload in a fresh process and JVM.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 24 \
        --trace 0

prints a human-readable report and, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on the Spark event log and
per-call job groups and reports the per-layer metrics.
``--workload all`` runs every workload untraced and then traced, each in
its own process, and prints every metric and the tracing overhead.

Every file the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from types import SimpleNamespace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "lucene_solr_old_spark"
MIN_COVERAGE = 0.90
# the driver heap is pre-touched at launch (session.py); size it to the
# benchmark's inputs rather than the 8g default
DRIVER_MEM = "1g"

sys.path.insert(0, HERE)

import stats  # noqa: E402
from procinfo import RssSampler, host_info, wait_descendants_gone  # noqa: E402
from tracing import Tracer, coverage, self_times  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class RunResult:
    tracer: Tracer
    samples: object
    setup_s: float
    setup_wall_s: float
    peak_rss_bytes: int
    rss_samples: int
    slots: int
    coverage: float = 0.0


def configure_env(work: str, traced: bool) -> None:
    """Session settings go in through the launch environment: the engine's
    get_spark reads SPARK_GRAFT_*, and spark-submit reads
    PYSPARK_SUBMIT_ARGS (where the event log is switched on)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(nproc())
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_WARMUP", None)     # the default mode
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = None
    submit = [f"--conf spark.sql.warehouse.dir={work}/warehouse"]
    if traced:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false",
                   f"--conf spark.eventLog.dir=file://{evdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def load_engine():
    """The engine's public modules; None when the package is absent."""
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        return None
    sys.path.insert(0, ROOT)
    from lucene_solr_old_spark.functions import tokenizer
    from lucene_solr_old_spark.operators import (batch, indexer, merge,
                                                 search, spans, wand)
    from lucene_solr_old_spark.session import get_spark
    from lucene_solr_old_spark.sources import pages
    from lucene_solr_old_spark.streaming import incremental

    return SimpleNamespace(get_spark=get_spark, pages=pages,
                           tokenizer=tokenizer, indexer=indexer,
                           search=search, spans=spans, batch=batch,
                           wand=wand, merge=merge, incremental=incremental)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for every process
    the run started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    left = wait_descendants_gone()
    if left:
        print(f"warning: processes still running: {left}", file=sys.stderr)


def run_one(args) -> int:
    from workloads import WORKLOADS

    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, traced)
    tracer = Tracer(f"r{os.getpid()}", traced)
    with tracer.span("session.import"):
        engine = load_engine()
    if engine is None:
        print(f"error: package {PKG!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    host = host_info(ROOT, os.path.join(ROOT, PKG))
    wl = WORKLOADS[args.workload](engine, tracer, args.seed, args.seconds,
                                  os.path.join(work, "data"))
    sampler = RssSampler()
    with sampler:
        try:
            samples = wl.run()
        finally:
            t_end = time.perf_counter()
            sampler.sample(os.getpid())
            stop_spark(wl.spark)
    import report

    # set-up once over: process start, get_spark and warm-up in full, the
    # repeated set-ups (inputs, index) at their median
    wall = wl.measure_start - T0
    reps = samples.setup_repeats
    run = RunResult(tracer=tracer, samples=samples,
                    setup_s=wall - sum(reps) + stats.median(reps),
                    setup_wall_s=wall,
                    peak_rss_bytes=sampler.peak, rss_samples=sampler.count,
                    slots=nproc())
    run.coverage = coverage(tracer.spans, T0, t_end)
    correct = samples.failed == 0
    if traced:
        from eventlog import parse_dir

        groups = parse_dir(os.path.join(work, "eventlog"))
        metrics = report.per_layer(run, groups)
        if run.coverage < MIN_COVERAGE:
            print(f"check failed: layers cover {run.coverage:.1%} of the "
                  f"wall (< {MIN_COVERAGE:.0%})", file=sys.stderr)
            correct = False
    else:
        metrics = report.end_to_end(run)

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "sizes": samples.sizes, "attempted": samples.attempted,
        "failed": samples.failed, "errors": samples.errors,
        "coverage": run.coverage,
        "headline": report.headline(args.workload, run),
        "self_s": self_times(tracer.spans),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    tracer.write(stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print_report(record)
    print(json.dumps({"correct": correct, "attempted": samples.attempted,
                      "failed": samples.failed,
                      "metrics": record["metrics"]}))
    return 0


def print_report(rec: dict) -> None:
    h = rec["host"]
    print(f"# {rec['workload']} seed={rec['seed']} seconds={rec['seconds']} "
          f"trace={rec['trace']} nproc={h['nproc']} "
          f"mem={h['mem_total_mb']}MB pyspark={h['pyspark']} "
          f"commit={h['git_commit'] or '-'} src={h['source_sha1'][:12]} "
          f"sizes={json.dumps(rec['sizes'])}")
    for name, value, unit, n in rec["headline"]:
        print(f"{name:32s} {value:14.4f} {unit:18s} n={n}")
    for err in rec["errors"]:
        print(f"error: {err}")
    if rec["trace"]:
        print(f"layer coverage {rec['coverage']:.1%} of the wall; "
              "self time per layer:")
        for name, sec in sorted(rec["self_s"].items(), key=lambda kv: -kv[1]):
            print(f"  {name:36s} {sec:9.3f} s")


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        e2e = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   name, "--seed", str(args.seed), "--seconds",
                   str(args.seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(out.stderr[-2000:], file=sys.stderr)
                status = 1
                continue
            print("\n".join(lines[:-1]))
            res = json.loads(lines[-1])
            print(f"correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            e2e[trace] = res["metrics"]
        if len(e2e) == 2:
            print(f"tracing overhead on {name} (traced vs untraced):")
            for k, v in e2e[0].items():
                t = e2e[1].get(f"trace.{k}")
                if t and v["value"]:
                    print(f"  {k:32s} {v['value']:12.4f} -> "
                          f"{t['value']:12.4f} {v['unit']:8s} "
                          f"({t['value'] / v['value'] - 1:+.1%})")
        print()
    return status


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
