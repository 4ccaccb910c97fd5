#!/usr/bin/env python3
"""Steadiness check for the graft benchmark: run one workload N times with
consecutive seeds and print, per metric, the median, the quartiles and the
spread (q3 - q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload crawl_extract --runs 10 [--first-seed 1]
                                [--seconds S] [--traced-too]

A spread below a third of the bound is steady; up to the bound is
tolerable; above it the metric cannot tell a regression from noise.
--traced-too also makes one traced run per seed and reports the tracing
overhead as the drop of pages_per_s from the untraced to the traced runs.
The wall time of every run is printed, with the projected time of a full
sweep of (4 + 22 x workloads) runs.
"""
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

import benchstats as bs  # noqa: E402


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit("run failed: workload %s seed %d (exit %d)" % (workload, seed, p.returncode))
    last = json.loads(p.stdout.strip().splitlines()[-1])
    noisy = "WARNING: outside contention" in p.stdout
    return last, wall, noisy


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--traced-too", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values, walls, traced_pps = {}, [], []
    for k in range(a.runs):
        seed = a.first_seed + k
        last, wall, noisy = one_run(a.workload, seed, seconds, 0)
        walls.append(wall)
        status = "ok" if last["correct"] else "FAILED %d/%d" % (last["failed"], last["attempted"])
        figures = " ".join("%s=%.5g" % (n, v["value"]) for n, v in last["metrics"].items())
        print("seed %-4d %6.1f s  %s%s  %s" % (seed, wall, status,
                                            "  (contention flagged)" if noisy else "", figures))
        for name, v in last["metrics"].items():
            values.setdefault(name, []).append(v["value"])
        if a.traced_too:
            tl, twall, _ = one_run(a.workload, seed, seconds, 1)
            walls.append(twall)
            traced_pps.append(tl["metrics"]["trace.pages_per_s"]["value"])
    print("\n%-42s %12s %12s %12s %8s %6s  %s" % ("metric", "median", "q1", "q3", "spread", "bound", "verdict"))
    for name, xs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = bs.iqr_share(xs)
        bound = bounds.get(name)
        if bound is None:
            verdict = ""
        elif spread <= bound / 3:
            verdict = "steady"
        elif spread <= bound:
            verdict = "within bound"
        else:
            verdict = "TOO WIDE"
        print("%-42s %12.6g %12.6g %12.6g %8.4f %6s  %s" % (
            name, statistics.median(xs), q1, q3, spread, "" if bound is None else bound, verdict))
    if traced_pps and "pages_per_s" in values:
        u = statistics.median(values["pages_per_s"])
        t = statistics.median(traced_pps)
        print("\ntracing overhead: untraced pages_per_s %.6g, traced %.6g, drop %.2f%% (n=%d each)"
              % (u, t, 100 * (u - t) / u, len(traced_pps)))
    mean_wall = statistics.mean(walls)
    n_runs = 4 + 22 * len(spec["workloads"])
    print("\nrun wall: mean %.1f s, max %.1f s; a full sweep of %d runs at this mean: %.0f s"
          % (mean_wall, max(walls), n_runs, mean_wall * n_runs))


if __name__ == "__main__":
    main()
