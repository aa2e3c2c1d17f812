#!/usr/bin/env python3
"""Compare two graft.Verify output directories row for row, bit-strict:
columns sorted by name, rows sorted, every double compared by its exact
bits (float.hex — no rounding, so 0.1 + 0.2 != 0.3 and -0.0 != 0.0).

Oracle-green alone cannot show "same answers": certificate twins (q74,
q91, q108, ...) accept whatever ids a run returns. This diff can: run
Verify on two trees and compare the two output directories.

Usage: result_diff.py <dirA> <dirB> [query ...]
Prints one line per query (SAME / DIFF / ONLY-A / ONLY-B) and exits 1 if
any query differs or exists on one side only.
"""
import os, sys

import duckdb


def exact(v):
    """A hashable, sortable, bit-exact stand-in for a parquet value."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(exact(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), exact(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def load(con, path):
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(exact(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=sort_key)
    return [cols[i] for i in order], rows


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    qa, qb = queries(a), queries(b)
    names = sorted((qa | qb) & only if only else qa | qb)
    con = duckdb.connect()
    differing = []
    for q in names:
        if q not in qb:
            print(f"ONLY-A {q}")
            differing.append(q)
            continue
        if q not in qa:
            print(f"ONLY-B {q}")
            differing.append(q)
            continue
        ca, ra = load(con, os.path.join(a, q))
        cb, rb = load(con, os.path.join(b, q))
        if ca != cb:
            print(f"DIFF {q}: columns {ca} != {cb}")
            differing.append(q)
        elif ra != rb:
            sa, sb = set(ra), set(rb)
            print(f"DIFF {q}: {len(ra)} vs {len(rb)} rows, "
                  f"{len(sa - sb)} only in A, {len(sb - sa)} only in B")
            for r in sorted(sa - sb, key=sort_key)[:3]:
                print(f"   A-only: {r}")
            for r in sorted(sb - sa, key=sort_key)[:3]:
                print(f"   B-only: {r}")
            differing.append(q)
        else:
            print(f"SAME {q} ({len(ra)} rows)")
    print(f"\n{len(names) - len(differing)} same, {len(differing)} differing"
          + (": " + " ".join(differing) if differing else ""))
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
