"""Run workloads over several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), the figures the bounds
in BENCHMARK.json are judged against.

    python3 perfbench/spread.py --workloads query_mix,nrt_ingest \
        --seeds 1-10 --seconds 24 [--sets 2] [--out summary.json]

With ``--sets 2`` two sets of runs are made, the second on seeds offset by
1000, interleaved run by run (seed 1 of each workload in set 1, then in
set 2, then seed 2, ...), so host drift falls on both sets alike.  Each
metric's set medians are then compared: the change from the first median
to the second, in the direction that is worse, against the bound.

Each run is a fresh ``run.py`` process, one after another.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

SET_SEED_OFFSET = 1000


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload: str, seed: int, seconds: str) -> tuple[dict | None, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", seconds,
           "--trace", "0"]
    t = time.monotonic()
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    wall = time.monotonic() - t
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(out.stderr[-2000:], file=sys.stderr)
        return None, wall
    return json.loads(lines[-1]), wall


def declared() -> dict[str, dict]:
    """The end-to-end metrics of BENCHMARK.json, by name."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {m["name"]: m for m in json.load(f)["end_to_end"]}


def summarize(vals: list[float]) -> dict:
    q1, _q2, q3 = statistics.quantiles(vals, n=4)
    return {"n": len(vals), "median": statistics.median(vals), "q1": q1,
            "q3": q3, "spread": stats.quartile_spread(vals), "values": vals}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse the second median is than the first, as a share of
    the first (negative when it is better)."""
    change = (second - first) / first
    return change if better == "lower" else -change


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="24")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    sets = range(args.sets)
    values = {(wl, j): {} for wl in workloads for j in sets}
    walls = {key: [] for key in values}
    status = 0
    for seed in parse_seeds(args.seeds):
        for wl in workloads:
            for j in sets:
                s = seed + SET_SEED_OFFSET * j
                res, wall = run(wl, s, args.seconds)
                walls[wl, j].append(wall)
                if res is None or not res["correct"]:
                    print(f"{wl} set={j + 1} seed={s} FAILED: {res}",
                          flush=True)
                    status = 1
                    continue
                print(f"{wl} set={j + 1} seed={s} wall={wall:.1f}s "
                      f"attempted={res['attempted']} " + " ".join(
                          f"{k}={v['value']:.4g}"
                          for k, v in res["metrics"].items()), flush=True)
                for k, v in res["metrics"].items():
                    values[wl, j].setdefault(k, []).append(v["value"])

    bounds = declared()
    summary: dict = {}
    for wl in workloads:
        summary[wl] = {"sets": []}
        for j in sets:
            summary[wl]["sets"].append({
                "wall_s_median": statistics.median(walls[wl, j]),
                "metrics": {k: summarize(v)
                            for k, v in values[wl, j].items()
                            if len(v) >= 2}})
        print(f"{wl}: metric, bound, then per set median and spread"
              + (", then how much worse set 2's median is" if args.sets > 1
                 else ""))
        for k, m in bounds.items():
            per_set = [s["metrics"].get(k) for s in summary[wl]["sets"]]
            if any(p is None for p in per_set):
                continue
            line = f"  {k:30s} {m['bound']:5.2f} " + "  ".join(
                f"{p['median']:12.4f} {p['spread']:6.3f}" for p in per_set)
            if args.sets > 1:
                w = worse_by(per_set[0]["median"], per_set[1]["median"],
                             m["better"])
                summary[wl].setdefault("worse_by", {})[k] = w
                line += f"  {w:+7.3f}"
            print(line, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return status


if __name__ == "__main__":
    sys.exit(main())
