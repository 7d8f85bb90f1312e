#!/usr/bin/env python3
"""Steadiness check: run every workload as two separate sets of runs and
report, per set, each end-to-end metric's median and quartiles, its
spread (interquartile distance over the median) against the metric's
bound in BENCHMARK.json, and whether the two sets' medians agree within
that bound, in either direction. Runs are made pass by pass (each
workload of BENCHMARK.json once per pass), so the wall time of one full
pass, set-up included, is printed too.

  python3 perfbench/steady.py [--runs 10] [--seed 1]

Set A uses seeds seed..seed+runs-1, set B the next `runs` seeds. Exit
status 0 when every spread is within its bound, the medians agree and
the failed share is the same in both sets.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def one_run(workload, seed, seconds, trace=0):
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    sets = {}
    for s, base in (("A", a.seed), ("B", a.seed + a.runs)):
        for i in range(a.runs):
            t0 = time.time()
            for w in workloads:
                res, wall = one_run(w, base + i, bench["run_seconds"])
                entry = sets.setdefault((s, w), {"runs": [], "walls": []})
                entry["runs"].append(res)
                entry["walls"].append(wall)
            sets.setdefault((s, "pass"), {"walls": []})["walls"].append(time.time() - t0)
            print(f"set {s} pass {i + 1}/{a.runs}: {time.time() - t0:.1f} s", flush=True)

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", f"steady-seed{a.seed}.json"), "w") as f:
        json.dump({f"{s}/{w}": v for (s, w), v in sets.items()}, f)
    ok = True
    for w in workloads:
        print(f"\n== {w}")
        for s in ("A", "B"):
            runs = sets[(s, w)]["runs"]
            att = sum(r["attempted"] for r in runs)
            fail = sum(r["failed"] for r in runs)
            print(f"  set {s}: {att} ops attempted, {fail} failed, all correct: "
                  f"{all(r['correct'] for r in runs)}, run wall median {statistics.median(sets[(s, w)]['walls']):.1f} s")
        shares = [sum(r["failed"] for r in sets[(s, w)]["runs"]) / sum(r["attempted"] for r in sets[(s, w)]["runs"])
                  for s in ("A", "B")]
        ok = ok and shares[0] == shares[1]
        for name, m in metrics.items():
            row = []
            meds = []
            for s in ("A", "B"):
                vals = [r["metrics"][name]["value"] for r in sets[(s, w)]["runs"]]
                q1, med, q3 = quartiles(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                ok = ok and spread <= m["bound"]
                row.append(f"{s}: med {med:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}")
            shift = (meds[1] - meds[0]) / meds[0]
            agree = abs(shift) <= m["bound"]
            ok = ok and agree
            print(f"  {name:18s} bound {m['bound']:.2f} | {' | '.join(row)} | B vs A {shift:+.3f} "
                  f"{'ok' if agree else 'DISAGREE'}")
    passes = sets[("A", "pass")]["walls"] + sets[("B", "pass")]["walls"]
    print(f"\none full pass: median {statistics.median(passes):.1f} s, "
          f"max {max(passes):.1f} s")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
