#!/usr/bin/env python3
"""Diff two `graft.Verify` output dirs query by query (dev tooling only;
not part of the Scala engine). Usage:

    python3 tools/verify_diff.py PARENT_OUT CHANGE_OUT [query ...]

For every query present in either dir (or only the named ones), compares
the column names, the parquet column types (physical, converted and
logical type plus repetition, per schema node) and the rows, canonicalized
by `tools/check_oracle.py`'s `canon` (columns sorted by name, cells through
its `norm`, rows sorted). Prints `SAME`/`DIFF` per query, then the
differing queries. Exit 0 iff no query differs."""
import os
import sys
from collections import Counter

import duckdb

from check_oracle import canon


def queries(out_dir):
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def load(con, out_dir, name):
    """(column names, parquet schema nodes, canonical rows) of one query."""
    files = f"{out_dir}/{name}/*.parquet"
    # every schema node but each file's root (its name is the writer's)
    types = sorted(con.sql(
        "SELECT DISTINCT name, type, converted_type, logical_type, "
        "repetition_type FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY file_name) AS i FROM parquet_schema('{files}')) "
        "WHERE i > 1").fetchall(), key=repr)
    rel = con.sql(f"SELECT * FROM read_parquet('{files}')")
    cols, rows = canon(rel.columns, rel.fetchall())
    return cols, types, rows


def only(a, b):
    """Up to three items of `a` missing from `b`, counted as multisets."""
    return sorted((Counter(a) - Counter(b)).elements(), key=repr)[:3]


def diff(con, parent_dir, change_dir, name):
    """Why `name` differs between the two dirs ('' if it does not)."""
    have = [name in queries(d) for d in (parent_dir, change_dir)]
    if have != [True, True]:
        return "missing in " + ("parent" if not have[0] else "change")
    pcols, ptypes, prows = load(con, parent_dir, name)
    ccols, ctypes, crows = load(con, change_dir, name)
    why = []
    if pcols != ccols:
        why.append(f"columns parent={pcols} change={ccols}")
    if ptypes != ctypes:
        why.append(f"types only-parent {only(ptypes, ctypes)} "
                   f"only-change {only(ctypes, ptypes)}")
    if prows != crows:
        why.append(f"rows parent={len(prows)} change={len(crows)} "
                   f"only-parent {only(prows, crows)} "
                   f"only-change {only(crows, prows)}")
    return "; ".join(why)


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    parent_dir, change_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(
        queries(parent_dir) | queries(change_dir))
    con = duckdb.connect()
    differing = []
    for name in names:
        try:
            why = diff(con, parent_dir, change_dir, name)
        except Exception as e:
            why = f"error: {e}"
        if why:
            differing.append(name)
            print(f"DIFF {name}: {why}")
        else:
            print(f"SAME {name}")
    print(f"{len(differing)} of {len(names)} queries differ"
          + (": " + " ".join(differing) if differing else ""))
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
