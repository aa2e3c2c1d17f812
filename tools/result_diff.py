#!/usr/bin/env python3
"""Compare two graft.Verify output directories row for row, bit-strict:
columns sorted by name, rows sorted, every double compared by its exact
bits (float.hex — no rounding, so 0.1 + 0.2 != 0.3 and -0.0 != 0.0).

Oracle-green alone cannot show "same answers": certificate twins (q74,
q91, q108, ...) accept whatever ids a run returns. This diff can: run
Verify on two trees and compare the two output directories.

Usage:
  result_diff.py <dirA> <dirB> [query ...]
      Prints one line per query (SAME / DIFF / ONLY-A / ONLY-B) and exits 1
      if any query differs or exists on one side only.
  result_diff.py --digest <verifyDir> [query ...] > manifest.json
      Writes an answer manifest: one bit-strict digest per query (sha256 of
      the same canonical rows the diff compares), with the Spark version
      (from the parquet footers) and the core count (SPARK_GRAFT_CPUS, else
      this host's CPU count — run it in the environment Verify ran in).
  result_diff.py --against <manifest.json> <verifyDir> [query ...]
      Digests <verifyDir> and compares it with a committed manifest; one line
      per query (SAME / DIFF / ONLY-MANIFEST / ONLY-DIR), exit 1 on any
      difference.
"""
import hashlib, json, os, sys

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


def load(con, path):
    """One query's columns sorted by name and its rows, each row the `repr`
    of its `exact` values in that column order, sorted. A string per row
    is a fraction of the memory of the tuples it prints. Every value's
    repr is one parenthesised tuple, so none is a proper prefix of
    another: the sorted reprs stand in the order of the rows' per-value
    reprs, compared as tuples."""
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = []
    while batch := rel.fetchmany(100000):
        rows.extend(repr(tuple(exact(r[i]) for i in order)) for r in batch)
    rows.sort()
    return [cols[i] for i in order], rows


def queries(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def digest(con, path):
    """(row count, sha256 hex) of one query's canonical columns and rows:
    the sha256 of `repr((cols, rows))` with each row the tuple of its
    `exact` values, fed piece by piece so that string never exists whole."""
    cols, rows = load(con, path)
    h = hashlib.sha256(("(" + repr(cols) + ", [").encode())
    sep = ""
    for row in rows:
        h.update((sep + row).encode())
        sep = ", "
    h.update(b"])")
    return len(rows), h.hexdigest()


def spark_version(con, d, names):
    for q in names:
        meta = con.sql("SELECT value FROM parquet_kv_metadata("
                       f"'{os.path.join(d, q)}/*.parquet') "
                       "WHERE key = 'org.apache.spark.version'").fetchall()
        if meta:
            return meta[0][0].decode()
    return None


def manifest(d, only):
    con = duckdb.connect()
    names = sorted(queries(d) & only if only else queries(d))
    return {
        "spark": spark_version(con, d, names),
        "cores": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())),
        "queries": {q: dict(zip(("rows", "digest"),
                                digest(con, os.path.join(d, q))))
                    for q in names},
    }


def against(path, d, only):
    with open(path) as f:
        want = json.load(f)["queries"]
    got = manifest(d, only)["queries"]
    if only:
        want = {q: v for q, v in want.items() if q in only}
    differing = []
    for q in sorted(want.keys() | got.keys()):
        if q not in got:
            print(f"ONLY-MANIFEST {q}")
        elif q not in want:
            print(f"ONLY-DIR {q}")
        elif got[q] != want[q]:
            print(f"DIFF {q}: {want[q]['rows']} rows in the manifest, "
                  f"{got[q]['rows']} in {d}")
        else:
            print(f"SAME {q} ({got[q]['rows']} rows)")
            continue
        differing.append(q)
    total = len(want.keys() | got.keys())
    print(f"\n{total - len(differing)} same, {len(differing)} differing"
          + (": " + " ".join(differing) if differing else ""))
    return 1 if differing else 0


def main():
    if len(sys.argv) >= 3 and sys.argv[1] == "--digest":
        json.dump(manifest(sys.argv[2], set(sys.argv[3:])), sys.stdout,
                  indent=1, sort_keys=True)
        print()
        return
    if len(sys.argv) >= 4 and sys.argv[1] == "--against":
        sys.exit(against(sys.argv[2], sys.argv[3], set(sys.argv[4:])))
    if len(sys.argv) < 3 or sys.argv[1].startswith("--"):
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
            for r in sorted(sa - sb)[:3]:
                print(f"   A-only: {r}")
            for r in sorted(sb - sa)[:3]:
                print(f"   B-only: {r}")
            differing.append(q)
        else:
            print(f"SAME {q} ({len(ra)} rows)")
    print(f"\n{len(names) - len(differing)} same, {len(differing)} differing"
          + (": " + " ".join(differing) if differing else ""))
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
