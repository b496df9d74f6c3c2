"""Seeded input generator for the benchmark.

Writes the engine's fixture layout (one parquet file per table, the schemas
of FIXTURES.md section B) into a directory, then the store workload's
commit batches and read plan. The same seed always gives the same bytes.

A population is drawn at scale `SCALE` (rows relative to the sf0.01
fixture), then a seeded sample keeps exactly `SAMPLE` of the fact tables:
orders sampled by key with lineitem following its orders, and events,
documents and embeddings each sampled on their own key. Dimension tables
are kept whole. Row counts are fixed by the scale, except lineitem (one to
seven lines per order); the seed varies which keys survive and every value.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.3
SAMPLE = 0.9
# store workload: commits per pass; the events are split evenly over them
STORE_BATCHES = 2
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer "
         "query stream filter big group vector").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000


def _rows(n):
    return max(1, int(round(n * SCALE)))


def _sample(rng, keys):
    """Exactly SAMPLE of `keys`, chosen by the seed, in key order."""
    keep = rng.choice(len(keys), size=int(len(keys) * SAMPLE), replace=False)
    return np.sort(keys[keep])


def _dates(rng, n, lo, hi):
    """Midnight timestamps (microseconds) drawn uniformly in [lo, hi]."""
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(lo_d, hi_d + 1, n).astype(np.int64) * DAY_US


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def dims(rng, out):
    n_cust, n_supp, n_part = _rows(1500), _rows(100), _rows(2000)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "new",
                    "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod",
                     "plate", "gizmo"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                      "PROMO"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    return n_cust, n_supp, n_part


def facts(rng, out, n_cust, n_supp, n_part):
    okeys = _sample(rng, np.arange(_rows(15000), dtype=np.int64))
    n_ord = len(okeys)
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01",
                                       "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    lkeys = np.repeat(okeys, lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(lkeys)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 901, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_dates(rng, n, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})
    return n_ord, n


def events(rng, out, n_users):
    n_all = _rows(10000)
    # arrival order: timestamps rise with event_id over 30 days
    gaps = rng.exponential(1.0, n_all)
    ts_all = (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.999).astype(
        np.int64) + np.datetime64("2024-01-01", "us").astype(np.int64)
    ids = _sample(rng, np.arange(n_all, dtype=np.int64))
    n = len(ids)
    cols = {
        "event_id": ids,
        "ts": ts_all[ids],
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    _write(out, "events", {
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": cols["event_type"],
        "value": cols["value"],
        "props": cols["props"]})
    return cols


def documents(rng, out):
    ids = _sample(rng, np.arange(_rows(500), dtype=np.int64))
    texts = []
    for i in range(len(ids)):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, the fixture's "dup" mark
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, len(ids), p=LANG_P)],
        "source": [f"src{d % 20}" for d in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return len(ids)


def embeddings(rng, out):
    ids = _sample(rng, np.arange(_rows(500), dtype=np.int64))
    n, dim = len(ids), 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return n


def store_inputs(rng, out, ev, n_users):
    """Commit batches (latest row per user within each arrival slice), and
    the per-commit read plan: one lookup key, one readWhere threshold and
    one older generation to read as of."""
    sdir = os.path.join(out, "store")
    os.makedirs(sdir, exist_ok=True)
    n = len(ev["event_id"])
    bounds = np.linspace(0, n, STORE_BATCHES + 1).astype(int)
    plan = []
    for b in range(STORE_BATCHES):
        sl = slice(bounds[b], bounds[b + 1])
        uid, ts, eid = ev["user_id"][sl], ev["ts"][sl], ev["event_id"][sl]
        # latest per user by (ts, event_id): sort ascending, keep the last
        order = np.lexsort((eid, ts, uid))
        last = np.r_[uid[order][1:] != uid[order][:-1], True]
        pick = np.arange(bounds[b], bounds[b + 1])[order[last]]
        pq.write_table(pa.table({
            "user_id": pa.array(ev["user_id"][pick], pa.int64()),
            "last_ts": pa.array(ev["ts"][pick], pa.timestamp("us", "UTC")),
            "last_event_id": pa.array(ev["event_id"][pick], pa.int64()),
            "last_event_type": ev["event_type"][pick],
            "last_value": ev["value"][pick],
            "n_versions": pa.array(np.ones(len(pick), np.int64))}),
            os.path.join(sdir, f"batch-{b:03d}.parquet"))
        plan.append({
            "batch": b,
            # one key in ten is outside the user range: a miss must be empty
            "lookup": int(rng.integers(0, n_users + n_users // 10)),
            "where": float(np.round(rng.uniform(50, 200), 2)),
            "as_of": int(rng.integers(0, b + 1))})
    maint = {"cdf_from": int(rng.integers(0, STORE_BATCHES - 1)),
             "delete_below": float(np.round(rng.uniform(1, 5), 2)),
             "vacuum_keep": 2}
    with open(os.path.join(sdir, "plan.json"), "w") as f:
        json.dump({"batches": plan, **maint}, f)


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = dims(rng, out)
    n_ord, n_line = facts(rng, out, n_cust, n_supp, n_part)
    n_users = max(1, n_cust // 10)
    ev = events(rng, out, n_users)
    n_docs = documents(rng, out)
    n_emb = embeddings(rng, out)
    store_inputs(rng, out, ev, n_users)
    counts = {"customer": n_cust, "supplier": n_supp, "part": n_part,
              "orders": n_ord, "lineitem": n_line,
              "events": len(ev["event_id"]), "users": n_users,
              "documents": n_docs, "embeddings": n_emb,
              "store_batches": STORE_BATCHES}
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump(counts, f)
    return counts


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(int(sys.argv[1]), sys.argv[2])))
