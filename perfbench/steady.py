"""Steadiness check: run each workload in two sets of N runs, each run in a
fresh process with its own seed, and print the median and quartiles of every
end-to-end metric beside its bound, then how far the second set's median moved
from the first's; then one longer traced run per workload with its per-layer
metrics, self time per layer and tracing overhead.

    python3 perfbench/steady.py                      # 2 x 10 runs of every workload
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads leaderboard_stream
    python3 perfbench/steady.py --runs 0             # traced runs only

A metric is steady when, in each set, its quartile spread (q3 - q1) / median
is within its bound (aim for a third of it), and the second median is not
worse than the first by more than the bound. ``setup_s`` is held to both.
The failed share of operations must be the same in every run.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """median, q1, q3 and (q3 - q1) / median, as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_set(workload: str, seeds: range, seconds: int) -> list[dict]:
    results = []
    for seed in seeds:
        res, wall = run_once(workload, seed, seconds, 0)
        results.append(res)
        print(f"{workload} seed {seed}: {wall:.1f}s wall, attempted {res['attempted']}, "
              f"failed {res['failed']}, correct {res['correct']}, "
              + ", ".join(f"{n} {m['value']:.4g}" for n, m in res["metrics"].items()),
              flush=True)
    return results


def grade(x: float, bound: float) -> str:
    return "ok" if x <= bound / 3 else "WITHIN BOUND" if x <= bound else "TOO WIDE"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10, help="runs per set")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seed", type=int, default=1, help="first seed; each run takes the next")
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--trace-seconds", type=int, default=12 * spec["run_seconds"],
                   help="--seconds of the traced run: long enough for several "
                        "traced and untraced passes, which alternate")
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = p.parse_args()
    metrics = spec["end_to_end"]
    steady = True
    seed = args.seed
    for wl in args.workloads.split(","):
        if args.runs < 1:
            break
        sets = []
        for _ in range(args.sets):
            sets.append(run_set(wl, range(seed, seed + args.runs), args.seconds))
            seed += args.runs
        runs = [r for results in sets for r in results]
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"\n{wl}: failed share {sorted(shares)}"
              f"{'' if len(shares) == 1 else '  NOT CONSTANT'}")
        steady &= len(shares) == 1 and all(r["correct"] for r in runs)
        if args.runs < 2:
            continue
        print(f"  {'metric':14s} {'set':>3s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
              f"{'spread':>7s} {'bound':>6s}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            medians = []
            for k, results in enumerate(sets, 1):
                med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in results])
                medians.append(med)
                steady &= sp <= bound
                print(f"  {name:14s} {k:3d} {med:10.4f} {q1:10.4f} {q3:10.4f} {sp:7.3f} "
                      f"{bound:6.2f}  {grade(sp, bound)}")
            for k in range(1, len(medians)):
                worse = (medians[k] / medians[0] - 1) * (1 if m["better"] == "lower" else -1)
                steady &= worse <= bound
                print(f"  {name:14s} set {k + 1} median is {worse:+.3f} worse than set 1, "
                      f"bound {bound:.2f}  {grade(worse, bound)}")
        print(flush=True)
    for wl in args.workloads.split(","):
        res, wall = run_once(wl, args.seed, args.trace_seconds, 1)
        print(f"traced {wl} ({wall:.1f}s wall, attempted {res['attempted']}, failed {res['failed']}):")
        for name, m in res["metrics"].items():
            print(f"  {name:40s} {m['value']:16.4f} {m['unit']}")
        print(flush=True)
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
