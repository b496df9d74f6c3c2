#!/usr/bin/env python3
"""Steadiness self-check of the benchmark.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload W ...]

For each workload, makes `--sets` sets of `--runs` untraced runs, each run
with another seed, and reports per end-to-end metric the spread of each set
(distance between first and third quartile, as a share of the median) and
how far each later set's median moved from the first set's; both must stay
within the metric's bound in BENCHMARK.json (`setup_s` is held only to the
median rule). Then it makes two traced runs on one seed and checks that the
count metrics repeat exactly. Exits 0 iff every check holds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("spark.jobs", "spark.tasks", "VersionedStore.commit_jobs")


def run(spec, workload, seed, trace):
    out = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", str(seed),
                           "--seconds", str(spec["run_seconds"]),
                           "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect results\n"
                         + out.stderr[-2000:])
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    ok = True
    for w in a.workload:
        sets = [[run(spec, w, 1000 * s + i + 1, 0) for i in range(a.runs)]
                for s in range(a.sets)]
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [[r[name] for r in runs] for runs in sets]
            med = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            worse = [(x - med[0]) / med[0] * (1 if m["better"] == "lower"
                                              else -1) for x in med[1:]]
            good = (all(s <= bound for s in spreads) or name == "setup_s") \
                and all(x <= bound for x in worse)
            ok &= good
            print(f"{w:9} {name:17} bound {bound:.2f} spreads "
                  f"{' '.join(f'{s:.3f}' for s in spreads)} medians "
                  f"{' '.join(f'{x:.4g}' for x in med)} "
                  f"{'ok' if good else 'FAIL'}")
        traced = [run(spec, w, 1, 1) for _ in range(2)]
        for c in COUNTS:
            same = traced[0][c] == traced[1][c]
            ok &= same
            print(f"{w:9} {c:27} {traced[0][c]} / {traced[1][c]} "
                  f"{'repeats' if same else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
