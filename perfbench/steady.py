#!/usr/bin/env python3
"""Steadiness check: runs the benchmark in two sets of runs of the same
code, each run with its own seed, and prints for every workload and
end-to-end metric each set's median and quartiles, the spread (quartile
distance over the median) against the metric's bound, and whether the
second set's median stays within the bound of the first. Also prints
the wall time of every run.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workloads olap_sf01,lake_cycle]
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


def run_once(workload, seed, seconds):
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    wall = time.time() - t
    if r.returncode != 0:
        return wall, None
    return wall, json.loads(r.stdout.strip().splitlines()[-1])


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    results = {}
    failed_runs = 0
    for s in range(args.sets):
        for i in range(args.runs):
            for w in workloads:
                seed = args.seed0 + 100 * s + i
                wall, res = run_once(w, seed, spec["run_seconds"])
                ok = res is not None and res["correct"]
                failed_runs += not ok
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in
                                res["metrics"].items()) if res else ""
                print(f"set {s + 1} {w:<11} seed {seed:<5} wall {wall:6.1f}s "
                      f"{'ok' if ok else 'FAILED'} {vals}", flush=True)
                results.setdefault(w, [[] for _ in range(args.sets)])[s].append(
                    {"seed": seed, "wall": wall, "result": res})
                if args.out:
                    with open(args.out, "w") as fh:
                        json.dump(results, fh, indent=1)
    bad = 0
    print(f"\n{'workload':<11} {'metric':<11} {'set':>3} {'q1':>10} {'median':>10} "
          f"{'q3':>10} {'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            meds = []
            for s, runs in enumerate(results[w]):
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                        if r["result"] is not None]
                if len(vals) < 2:
                    print(f"{w:<11} {m['name']:<11} {s + 1:>3}  too few runs")
                    bad += 1
                    continue
                q1, med, q3 = summary(vals)
                spread = (q3 - q1) / med
                verdict = "ok"
                if spread > m["bound"]:
                    verdict = "SPREAD ABOVE BOUND"
                elif spread > m["bound"] / 3:
                    verdict = "spread above a third of the bound"
                if meds:
                    worse = (med - meds[0]) / meds[0]
                    if m["better"] == "higher":
                        worse = -worse
                    if worse > m["bound"]:
                        verdict = f"MEDIAN WORSE BY {worse:.1%} than set 1"
                    else:
                        verdict += f"; median worse by {worse:+.1%} than set 1"
                meds.append(med)
                bad += verdict.startswith(("SPREAD", "MEDIAN"))
                print(f"{w:<11} {m['name']:<11} {s + 1:>3} {q1:10.4g} {med:10.4g} "
                      f"{q3:10.4g} {spread:7.3f} {m['bound']:6.2f}  {verdict}")
        walls = [r["wall"] for runs in results[w] for r in runs]
        print(f"{w:<11} wall per run: median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s")
    if failed_runs:
        print(f"{failed_runs} run(s) failed or were not correct")
    return 1 if bad or failed_runs else 0


if __name__ == "__main__":
    sys.exit(main())
