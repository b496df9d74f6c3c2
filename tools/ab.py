#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two git revisions.

    python3 tools/ab.py PARENT CHANGE [--workload notebook store] \
        [--pairs 10] [--seed 7] [--trace 0|1] [--tmp DIR]

Exports the committed files of each revision into its own directory under a
temporary dir (`git archive`, so an interrupted run leaves nothing behind in
the repository), then runs, for each workload and each pair,

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0|1

once in each checkout, alternating which side goes first, with T the
`run_seconds` of BENCHMARK.json. Each run's last stdout line is its JSON
result; the tool stops at the first run that fails, reports
`correct: false` or has `failed > 0`. It writes, per workload and
metric, the median change/parent ratio, the parent's interquartile range,
how many pairs the change won, and both raw series to
`plans/ab-<parent>-<change>[-trace].json`, and prints a summary. Each
end-to-end metric also gets a `verdict` against its BENCHMARK.json `bound`
(see `verdict`). The
temporary dir is removed on exit, failures included. Nothing under
`perfbench/` and no `BENCHMARK.json` is modified.
"""
import argparse
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True).stdout


def export(rev, dest):
    """The committed tree of `rev`, unpacked into `dest`."""
    os.makedirs(dest)
    with tarfile.open(fileobj=io.BytesIO(git("archive", rev))) as tar:
        tar.extractall(dest, filter="data")


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    # own process group: on a timeout or an interrupt the harness JVM
    # that run.py starts is killed with it instead of running on
    p = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} in {checkout} exited "
                         f"{p.returncode}\n{err[-3000:]}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"] > 0:
        raise SystemExit(f"{workload} in {checkout}: correct="
                         f"{res['correct']} failed={res['failed']}\n"
                         f"{err[-3000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(p, c, higher, bound):
    """One end-to-end metric's reading over paired runs `p` (parent) and
    `c` (change), `bound` the relative worsening BENCHMARK.json allows:

    - `gain`: the change wins at least 9 of 10 pairs (ties count for
      neither side) and its median is better by more than the parent's
      interquartile range;
    - `regression`: the change's median is worse than the parent's by more
      than `bound`;
    - `unresolved`: the parent's IQR/median is wider than `bound`, unless
      every change run beats every parent run;
    - `within_bound`: everything else.
    """
    def beats(y, x):
        return y > x if higher else y < x
    pm, cm = statistics.median(p), statistics.median(c)
    wins = sum(beats(y, x) for x, y in zip(p, c))
    if 10 * wins >= 9 * len(p) and beats(cm, pm) and abs(cm - pm) > iqr(p):
        return "gain"
    if pm and (pm - cm if higher else cm - pm) / abs(pm) > bound:
        return "regression"
    if (pm and iqr(p) / abs(pm) > bound
            and not all(beats(y, x) for x in p for y in c)):
        return "unresolved"
    return "within_bound"


def summarize(parent_runs, change_runs, better, bounds):
    out = {}
    for m in sorted(parent_runs[0]):
        p = [r[m] for r in parent_runs]
        c = [r[m] for r in change_runs]
        pm, cm = statistics.median(p), statistics.median(c)
        higher = better.get(m) == "higher"
        wins = sum((y > x) if higher else (y < x) for x, y in zip(p, c))
        out[m] = {"ratio": cm / pm if pm else None,
                  "parent_median": pm, "change_median": cm,
                  "parent_iqr": iqr(p), "change_wins": wins,
                  "parent": p, "change": c}
        if m in bounds:
            out[m]["verdict"] = verdict(p, c, higher, bounds[m])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", nargs="+", default=["notebook", "store"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tmp", default=None,
                    help="parent dir for the temporary checkouts")
    a = ap.parse_args()
    revs = [git("rev-parse", "--short", r).decode().strip()
            for r in (a.parent, a.change)]
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    # SIGTERM unwinds through the `finally` below like Ctrl-C does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = tempfile.mkdtemp(prefix="ab-", dir=a.tmp)
    try:
        dirs = [os.path.join(work, name) for name in ("parent", "change")]
        for rev, d in zip(revs, dirs):
            export(rev, d)
        result = {"parent": revs[0], "change": revs[1], "seed": a.seed,
                  "seconds": seconds, "trace": a.trace,
                  "pairs": a.pairs, "workloads": {}}
        for w in a.workload:
            runs = ([], [])
            for i in range(a.pairs):
                order = (0, 1) if i % 2 == 0 else (1, 0)
                for side in order:
                    t0 = time.time()
                    runs[side].append(run(dirs[side], w, a.seed,
                                          seconds, a.trace))
                    print(f"{w} pair {i + 1}/{a.pairs} "
                          f"{('parent', 'change')[side]} "
                          f"{time.time() - t0:.0f} s", file=sys.stderr)
            result["workloads"][w] = summarize(*runs, better, bounds)
        os.makedirs(os.path.join(ROOT, "plans"), exist_ok=True)
        path = os.path.join(ROOT, "plans", f"ab-{revs[0]}-{revs[1]}"
                            + ("-trace" if a.trace else "") + ".json")
        with open(path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
            f.write("\n")
        for w, ms in result["workloads"].items():
            for m, s in ms.items():
                ratio = "n/a" if s["ratio"] is None else f"{s['ratio']:.3f}"
                print(f"{w:9} {m:45} ratio {ratio:>6}  parent "
                      f"{s['parent_median']:.4g} (IQR {s['parent_iqr']:.3g})"
                      f"  change {s['change_median']:.4g}  wins "
                      f"{s['change_wins']}/{len(s['parent'])}"
                      f"  {s.get('verdict', '')}")
        print(f"wrote {os.path.relpath(path, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
