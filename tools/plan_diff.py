#!/usr/bin/env python3
"""Compare two directories of `graft.PlanDump` output, ignoring run-local ids.

    python3 tools/plan_diff.py <dirA> <dirB> [--rename OLD=NEW ...]

PlanDump writes one formatted physical plan per query as `<q>_<suffix>.txt`;
files pair up by the query prefix before the first `_`. Before comparing,
each plan is normalized:

- expression ids (`#123`), `plan_id=N` and RDD ids (`MapPartitionsRDD[N]`)
  are renumbered in order of first appearance, so two plans match when they
  use the same ids in the same places, whatever their absolute values;
- call sites (`at Dedup.scala:802`) become `at <site>`;
- each `--rename OLD=NEW` replaces the word OLD with NEW (e.g. a column
  renamed on purpose).

Prints a unified diff per differing query and exits 1 if any query differs
or is present on one side only; exits 0 when every plan matches.
"""
import argparse
import difflib
import os
import re
import sys

IDS = [
    (re.compile(r"#(\d+)"), "#{}"),
    (re.compile(r"plan_id=(\d+)"), "plan_id={}"),
    (re.compile(r"RDD\[(\d+)\]"), "RDD[{}]"),
]
SITE = re.compile(r"at [\w$]+\.(?:scala|java):\d+")


def normalize(text, renames):
    for old, new in renames:
        text = re.sub(r"\b%s\b" % re.escape(old), new, text)
    text = SITE.sub("at <site>", text)
    for pattern, fmt in IDS:
        seen = {}

        def renumber(m):
            return fmt.format(seen.setdefault(m.group(1), len(seen) + 1))

        text = pattern.sub(renumber, text)
    return text


def plans(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            out[f.split("_", 1)[0]] = os.path.join(d, f)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--rename", action="append", default=[],
                    metavar="OLD=NEW")
    args = ap.parse_args()
    renames = [r.split("=", 1) for r in args.rename]
    pa, pb = plans(args.a), plans(args.b)
    differ = 0
    for q in sorted(set(pa) | set(pb), key=lambda s: (len(s), s)):
        if q not in pa or q not in pb:
            print(f"{q}: only in {args.a if q in pa else args.b}")
            differ += 1
            continue
        ta = normalize(open(pa[q]).read(), renames).splitlines()
        tb = normalize(open(pb[q]).read(), renames).splitlines()
        if ta == tb:
            print(f"{q}: same ({len(ta)} lines)")
        else:
            differ += 1
            print(f"{q}: DIFFERS")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                ta, tb, pa[q], pb[q], lineterm=""))
    print(f"{differ} of {len(set(pa) | set(pb))} plans differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
