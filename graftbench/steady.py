#!/usr/bin/env python3
"""Steadiness report: is the benchmark steady enough for its bounds?

    python3 graftbench/steady.py --workload stream-merge

Runs run.py 10 times in each of 2 sets, each time with another seed (set k
uses seeds k*1000+1 ...), untraced, for BENCHMARK.json's run_seconds. For every
end-to-end metric it prints each set's median, quartiles and spread (the
distance between the quartiles divided by the median, as
statistics.quantiles(values, n=4) gives them), the change of the second
set's median against the first, and the metric's bound. It also prints the
within-run drift of ops_per_s: the op rate of the second half of a run's
timed passes over the first half; a drift far from 0 means an unfinished
warm-up or state that grows during the run.

A metric is steady when its spread in every set is below a third of its
bound and its median moves by no more than the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def run_set(workload, seeds, seconds):
    rows = []
    for seed in seeds:
        with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(HERE, ".work")) as f:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
                                "--details", f.name], cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            if p.returncode != 0 or not res.get("correct"):
                print(f"  seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            details = json.load(open(f.name))
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        vals["_drift"] = details["drift"]
        print(f"  seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in vals.items()), flush=True)
        rows.append(vals)
    return rows


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)

    sets = []
    for k in range(1, SETS + 1):
        print(f"set {k}:", flush=True)
        sets.append(run_set(args.workload, range(k * 1000 + 1, k * 1000 + 1 + RUNS), seconds))
    if any(len(s) < 2 for s in sets):
        sys.exit("too few successful runs")

    steady = True
    print(f"\n{args.workload}: {RUNS} runs x {SETS} sets, {seconds} s each")
    print(f"{'metric':14s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s} {'vs set 1':>8s}")
    for m in spec["end_to_end"]:
        name, bound, better = m["name"], m["bound"], m["better"]
        base = None
        for k, rows in enumerate(sets, 1):
            med, q1, q3, spread = summary([r[name] for r in rows])
            move = 0.0 if base is None else (med / base - 1.0)
            worse = move if better == "lower" else -move
            flag = ""
            if spread > bound / 3:
                flag += " SPREAD"
            if worse > bound:
                flag += " MOVED"
            steady &= not flag
            base = med if base is None else base
            print(f"{name:14s} {k:3d} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f} "
                  f"{bound:6.2f} {move:+8.3f}{flag}")
    for k, rows in enumerate(sets, 1):
        d = [r["_drift"] for r in rows]
        print(f"ops_per_s drift, set {k}: median {statistics.median(d):+.3f}, "
              f"range {min(d):+.3f} .. {max(d):+.3f}")
    print("steady" if steady else "NOT steady")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
