#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload notebook|corpus|store --seed N \
        --seconds S --trace 0|1 [--check]

Run from the root of a checkout. It builds the engine with the harness
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py, cached
per seed), runs the harness JVM, checks every result against DuckDB, and
prints `{"correct", "attempted", "failed", "metrics"}` as its last line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Spans go to `.bench_build/perfbench/out/<run>/spans.jsonl`.

`--check` instead compares the full result of every oracle-covered op of
the workload with DuckDB, row by row, and exits 0 iff all match.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("notebook", "store")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OP_MODULES = ["RelOps", "Reshape", "Pipeline", "SqlEntry", "MlSuite",
              "TextOps", "Dedup", "Similarity", "StreamingQueries"]
STORE_READS = ("lookup", "read_where", "read_as_of")
# the harness JVM must end well inside the run's 180 s limit
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def inputs(seed):
    """Generated inputs for `seed`, made once per seed and generator."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.abspath(os.path.join(build.BUILD_DIR, "data",
                                     f"{tag}-seed{seed}"))
    if not os.path.exists(os.path.join(d, "rows.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(seed, d + ".part")
        os.rename(d + ".part", d)
    return d


def run_harness(classes, workload, data, out, seconds, trace, check):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = (["java"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
            "graft.perfbench.Harness", workload, data, out, str(seconds),
            str(trace)] + (["check"] if check else []))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("harness timed out")
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    if code != 0:
        raise SystemExit(f"harness exited {code}; see {out}/jvm.log")


def duck(data):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet')")
    return con


def oracle_counts(data, sqls):
    """DuckDB row count of each oracle SQL, cached beside the inputs."""
    path = os.path.join(data, "oracle_counts.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    out = {}
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            con = con or duck(data)
            cache[key] = con.sql(
                f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        out[name] = cache[key]
    with open(path + ".part", "w") as f:
        json.dump(cache, f)
    os.replace(path + ".part", path)
    return out


class StoreOracle:
    """Latest-row-per-user answers over the committed batches, in DuckDB."""

    def __init__(self, data):
        self.dir = os.path.join(data, "store")
        self.plan = json.load(open(os.path.join(self.dir, "plan.json")))
        self.con = duckdb.connect()
        files = [os.path.join(self.dir, f"batch-{b['batch']:03d}.parquet")
                 for b in self.plan["batches"]]
        self.con.sql(
            "CREATE TABLE rows AS SELECT *, "
            "CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS INT) AS b "
            f"FROM read_parquet({files!r}, filename = true)")

    def latest(self, upto, where="TRUE"):
        return self.con.sql(
            "SELECT count(*) FROM (SELECT * FROM rows WHERE b <= ? QUALIFY "
            "row_number() OVER (PARTITION BY user_id ORDER BY last_ts DESC, "
            f"last_event_id DESC) = 1) WHERE {where}", params=[upto]
        ).fetchone()[0]

    def lookup(self, upto, key):
        r = self.con.sql(
            "SELECT last_event_id FROM rows WHERE b <= ? AND user_id = ? "
            "ORDER BY last_ts DESC, last_event_id DESC LIMIT 1",
            params=[upto, key]).fetchall()
        return (1, r[0][0]) if r else (0, -1)

    def touched(self, lo, hi):
        return self.con.sql(
            "SELECT count(DISTINCT user_id) FROM rows WHERE b > ? AND b <= ?",
            params=[lo, hi]).fetchone()[0]


def check_store(recs, oracle):
    """Failures among one pass's store calls (a list of messages)."""
    p = oracle.plan
    last = len(p["batches"]) - 1
    memo = {}

    def ask(*k):
        if k not in memo:
            memo[k] = getattr(oracle, k[0])(*k[1:])
        return memo[k]

    # a delete that matches no row commits no generation
    deleted = ask("latest", last, f"last_value <= {p['delete_below']}")
    gen_delete = last + 1 if deleted else last
    bad = []
    for r in recs:
        kind, args = r.get("call"), r.get("args", "")
        if r["kind"] == "verify":
            want = ask("latest", last, f"last_value > {p['delete_below']}")
            if r["count"] != want:
                bad.append(f"rows after {r['after']}: {r['count']} != {want}")
            continue
        if r.get("error"):
            bad.append(f"{kind}({args}): {r['error']}")
            continue
        if kind == "commit":
            got, want = r["gen"], int(args)
        elif kind == "lookup":
            g, key = (int(x) for x in args.split(","))
            got, want = (r["count"], r["value"]), ask("lookup", g, key)
        elif kind == "read_where":
            g, thr = args.split(",")
            got = r["count"]
            want = ask("latest", int(g), f"last_value >= {float(thr)}")
        elif kind == "read_as_of":
            got, want = r["count"], ask("latest", int(args))
        elif kind == "cdf":
            lo, hi = (int(x) for x in args.split(","))
            got, want = r["count"], ask("touched", lo, hi)
        elif kind == "delete":
            got, want = r["gen"], gen_delete
        elif kind == "compact":
            got, want = r["gen"], gen_delete + 1
        else:
            continue
        if got != want:
            bad.append(f"{kind}({args}): {got} != {want}")
    return bad


def load(out):
    recs = [json.loads(line) for line in open(os.path.join(out,
                                                           "records.jsonl"))]
    by = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r)
    return by


def verdict(by, out, data):
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    want = oracle_counts(data, sqls)
    msgs = []
    attempted = 0
    seen = {}
    for r in by.get("op", []):
        attempted += 1
        name = r["name"]
        if r["error"] is not None:
            msgs.append(f"{r['id']}: {r['error']}")
        elif name in want and r["count"] != want[name]:
            msgs.append(f"{r['id']}: count {r['count']} != duckdb "
                        f"{want[name]}")
        elif name not in want and seen.setdefault(name, r["count"]) != \
                r["count"]:
            msgs.append(f"{r['id']}: count {r['count']} differs from "
                        f"an earlier pass's {seen[name]}")
    store = by.get("store", []) + by.get("verify", [])
    if store:
        oracle = StoreOracle(data)
        passes = sorted({r["pass"] for r in store})
        for p in passes:
            recs = [r for r in store if r["pass"] == p]
            attempted += len(recs)
            msgs += [f"{p}: {m}" for m in check_store(recs, oracle)]
    return attempted, msgs


def quantile(xs, q):
    xs = sorted(xs)
    i = (len(xs) - 1) * q
    lo, hi = math.floor(i), math.ceil(i)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def dur(r):
    return (r["end"] - r["start"]) / 1e3


def timed_passes(by, traced=None):
    return [p for p in by.get("pass", []) if p["timed"] and
            (traced is None or p["traced"] == traced)]


def end_to_end(by):
    """End-to-end metrics over the timed passes. Op latency percentiles
    are taken within each pass (every pass runs the same ops) and the
    median across passes is reported, so the value does not depend on how
    many passes fit in the run."""
    passes = timed_passes(by)
    per_pass = [[dur(r) for r in by.get("op", []) + by.get("store", [])
                 if r["pass"] == p["id"]] for p in passes]
    return {
        "setup_s": (statistics.median(r["setup_s"] for r in by["setup"]),
                    "s"),
        "pass_s": (statistics.median(dur(p) for p in passes), "s"),
        "op_p50_s": (statistics.median(quantile(x, 0.5) for x in per_pass),
                     "s"),
        "op_p90_s": (statistics.median(quantile(x, 0.9) for x in per_pass),
                     "s"),
        "retained_heap_mb": (by["heap"][0]["retained_heap_mb"], "MB"),
    }, sum(map(len, per_pass))


def phases(r):
    """An op's timed parts (name, start ms, end ms); a part the op did not
    reach because it threw is left out."""
    bounds = (r["start"], r["builder_end"], r["plan_end"], r["end"])
    return [(ph, a, b) for ph, a, b in
            zip(("builder", "plan", "exec"), bounds, bounds[1:])
            if a is not None and b is not None]


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of `intervals` (ms)."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                 if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def per_layer(by):
    traced = timed_passes(by, True)
    plain = timed_passes(by, False)
    ids = {p["id"] for p in traced}
    n = max(1, len(traced))
    cores = by["run"][0]["cores"]
    ops = [r for r in by.get("op", []) if r["pass"] in ids]
    store = [r for r in by.get("store", []) if r["pass"] in ids]
    jobs = [j for j in by.get("job", [])
            if j["op"] and j["op"].split(".")[0] in ids]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["op"], []).append(j)
    m = {"GraftSession.boot_s": (statistics.median(
        r["boot_s"] for r in by["setup"]), "s")}

    def put(name, value, unit):
        m[name] = (value, unit)

    for mod in OP_MODULES:
        mine = [r for r in ops if r["module"] == mod]
        ok = [r for r in mine if r["error"] is None]
        put(f"{mod}.builder_s", sum(
            (r["builder_end"] - r["start"]) / 1e3 for r in ok) / n, "s")
        put(f"{mod}.plan_s", sum(
            (r["plan_end"] - r["builder_end"]) / 1e3 for r in ok) / n, "s")
        put(f"{mod}.exec_s", sum(
            (r["end"] - r["plan_end"]) / 1e3 for r in ok) / n, "s")
        mj = [j for r in mine for j in jobs_of.get(r["id"], [])]
        put(f"{mod}.jobs", len(mj) / n, "count")
        put(f"{mod}.task_s", sum(j["task_s"] for j in mj) / n, "s")

    def calls(kind):
        return [r for r in store if r["call"] == kind and not r["error"]]

    def med(kind):
        xs = [dur(r) for r in calls(kind)]
        return statistics.median(xs) if xs else 0.0

    commits = calls("commit")
    commit_jobs = [j for r in commits for j in jobs_of.get(r["id"], [])]
    user_bytes = sum(r["user_bytes"] for r in commits)
    put("VersionedStore.commit_s", med("commit"), "s")
    put("VersionedStore.commit_jobs",
        len(commit_jobs) / max(1, len(commits)), "count")
    for kind in STORE_READS + ("cdf", "delete", "compact", "vacuum"):
        put(f"VersionedStore.{kind}_s", med(kind), "s")
    reads = [r for k in STORE_READS for r in calls(k)]
    rows_read = sum(j["input_records"] for r in reads
                    for j in jobs_of.get(r["id"], []))
    put("VersionedStore.rows_read_per_row_returned",
        rows_read / max(1, sum(r["count"] for r in reads)), "ratio")
    put("VersionedStore.write_bytes_per_user_byte",
        sum(j["output_bytes"] for j in commit_jobs) / max(1, user_bytes),
        "ratio")
    live = [r["bytes"] for r in by.get("live", []) if r["pass"] in ids]
    put("VersionedStore.live_bytes_per_user_byte",
        sum(live) / max(1, user_bytes), "ratio")

    stream_spans = [(r["start"], r["end"]) for r in ops
                    if r["module"] == "StreamingQueries"]
    batches = [b for b in by.get("batch", [])
               if any(a <= b["start"] <= e for a, e in stream_spans)]
    put("StreamingQueries.batches", len(batches) / n, "count")
    for k in ("add_batch", "wal_commit", "state_commit"):
        put(f"StreamingQueries.{k}_s",
            sum(b[f"{k}_ms"] for b in batches) / 1e3 / n, "s")

    wall = sum(dur(p) for p in traced)
    mb = 1024.0 * 1024.0
    put("spark.jobs", len(jobs) / n, "count")
    put("spark.builder_jobs",
        sum(j["phase"] == "builder" for j in jobs) / n, "count")
    for k in ("stages", "tasks", "task_failures"):
        put(f"spark.{k}", sum(j[k] for j in jobs) / n, "count")
    put("spark.task_s", sum(j["task_s"] for j in jobs) / n, "s")
    put("spark.gc_s", sum(j["gc_s"] for j in jobs) / n, "s")
    put("spark.job_queue_s", sum((j["first_task"] - j["start"]) / 1e3
                                 for j in jobs if j["first_task"] >= 0) / n,
        "s")
    put("spark.cpu_util", sum(j["task_s"] for j in jobs) /
        max(1e-9, cores * wall), "ratio")
    for k, src in (("shuffle_write", "shuffle_write"),
                   ("shuffle_read", "shuffle_read"), ("spill", "spill"),
                   ("input", "input_bytes"), ("output", "output_bytes")):
        put(f"spark.{k}_mb", sum(j[src] for j in jobs) / mb / n, "MB")

    # self time: a phase's span minus the part its jobs cover
    spans = {}
    for r in ops:
        if r["error"] is not None:
            continue
        for ph, a, b in phases(r):
            js = [(j["start"], j["end"]) for j in jobs_of.get(r["id"], [])]
            spans.setdefault(ph, []).append(
                (b - a) / 1e3 - union_s(js, a, b))
    for r in store:
        js = [(j["start"], j["end"]) for j in jobs_of.get(r["id"], [])]
        spans.setdefault("store", []).append(
            dur(r) - union_s(js, r["start"], r["end"]))
    for ph in ("builder", "plan", "exec", "store"):
        put(f"self.{ph}_s", sum(spans.get(ph, [])) / n, "s")
    put("self.jobs_s", sum(union_s([(j["start"], j["end"]) for j in jobs],
                                   p["start"], p["end"]) for p in traced) / n,
        "s")
    overhead = 0.0
    if traced and plain:
        overhead = (statistics.median(dur(p) for p in traced) -
                    statistics.median(dur(p) for p in plain))
    put("trace.overhead_s", overhead, "s")
    return m


def write_spans(by, out):
    with open(os.path.join(out, "spans.jsonl"), "w") as f:
        def span(name, start, end, parent, op, sid):
            f.write(json.dumps({"id": sid, "name": name, "start": start,
                                "end": end, "parent": parent, "op": op})
                    + "\n")
        for p in by.get("pass", []):
            span("pass", p["start"], p["end"], None, None, p["id"])
        stream_ops = []
        for r in by.get("op", []):
            span(r["name"], r["start"], r["end"], r["pass"], r["id"], r["id"])
            for ph, a, b in phases(r):
                span(ph, a, b, r["id"], r["id"], f"{r['id']}/{ph}")
            if r["module"] == "StreamingQueries":
                stream_ops.append(r)
        for r in by.get("store", []):
            span(r["call"], r["start"], r["end"], r["pass"], r["id"],
                 r["id"])
        for j in by.get("job", []):
            parent = j["op"] if j["phase"] in STORE_READS + (
                "commit", "cdf", "delete", "compact", "vacuum") \
                else f"{j['op']}/{j['phase']}"
            span(f"job {j['id']}", j["start"], j["end"], parent, j["op"],
                 f"job{j['id']}")
        for b in by.get("batch", []):
            owner = next((r["id"] for r in stream_ops
                          if r["start"] <= b["start"] <= r["end"]), None)
            span(f"batch {b['batch']}", b["start"],
                 b["start"] + b["trigger_ms"], owner, owner,
                 f"{b['query']}/{b['batch']}")


def canon(cols, rows):
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i].lower() for i in order],
            sorted(tuple(norm(r[i]) for i in order) for r in rows))


def full_check(out, data):
    """Row-by-row compare of each op's written result with DuckDB, the
    rule tools/check_oracle.py applies."""
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duck(data)
    bad = 0
    for name, sql in sorted(sqls.items()):
        try:
            got = con.sql("SELECT * FROM read_parquet("
                          f"'{out}/check/{name}/*.parquet')")
            g = canon(got.columns, got.fetchall())
            exp = con.sql(sql)
            e = canon(exp.columns, exp.fetchall())
            ok = g == e
        except Exception as ex:  # a missing result is a failure
            print(f"FAIL {name}: {ex}")
            bad += 1
            continue
        print(f"{'OK  ' if ok else 'FAIL'} {name} ({len(g[1])} rows)")
        bad += not ok
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()

    classes = os.path.abspath(build.build("."))
    data = inputs(a.seed)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}" + (
        "-check" if a.check else "")
    out = os.path.abspath(os.path.join(build.BUILD_DIR, "out", name))
    t0 = time.time()
    run_harness(classes, a.workload, data, out, a.seconds, a.trace, a.check)
    if a.check:
        sys.exit(1 if full_check(out, data) else 0)
    by = load(out)
    attempted, msgs = verdict(by, out, data)
    for msg in msgs:
        print(f"FAIL {msg}", file=sys.stderr)
    write_spans(by, out)
    if a.trace:
        metrics = per_layer(by)
    else:
        metrics, n = end_to_end(by)
        print(f"{a.workload}: {len(timed_passes(by))} timed passes, "
              f"{n} op samples, harness {time.time() - t0:.1f} s",
              file=sys.stderr)
    print(json.dumps({
        "correct": not msgs, "attempted": attempted, "failed": len(msgs),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
