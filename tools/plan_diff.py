#!/usr/bin/env python3
"""Compare two `graft.Dev explain` dumps query by query.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds `<query>_<suffix>.txt` files as written by
`graft.Dev explain <names|all> <outDir> [suffix]` (the suffix must not
contain `_`). Identifiers that differ between any two runs of the same
plan are replaced by a placeholder: expression ids (`#123`), `plan_id=`,
whole-stage codegen ids (`codegen id : 3`, `*(3)`, and the stage's
`Arguments: 3`), RDD ids (`[12]` after an RDD name), the pid suffix of
`/tmp/graft_*` paths, `.scala:<line>` call sites and JVM object hashes
(`$Lambda$…`, `@1a2b3c`). Operator ordinals (`Project (90)`, `(90)
Project`) are dropped too: they number the tree, so one added or
removed operator would renumber every later line, and the operator
itself still shows as a differing line. Nothing else is normalized.
For each query the tool prints `same`, or `DIFF` followed by every
differing line (`-` from dirA, `+` from dirB), then a summary. Queries
dumped on one side only are listed as `only in A` / `only in B`.

Exit status: 0 if every query's plan is the same on both sides, 1
otherwise.
"""
import difflib
import os
import re
import sys

RUN_IDS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"^Arguments: \d+$"), "Arguments: N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(/tmp/graft_[^\s\]]*?)_\d+(?=[\]\s/,]|$)"), r"\1_PID"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\$\$Lambda\$?[\w/$]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@HASH"),
    (re.compile(r" \(\d+\)(?=,| \(|$)"), ""),
    (re.compile(r"^\(\d+\) "), ""),
]


def normalize(ln):
    for pat, rep in RUN_IDS:
        ln = pat.sub(rep, ln)
    return ln


def plans(d):
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            out[f[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def lines(path):
    with open(path, encoding="utf-8") as f:
        return [normalize(ln.rstrip("\n")) for ln in f]


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    same, diff = [], []
    for q in sorted(a.keys() | b.keys()):
        if q not in b:
            print(f"only in A: {q}")
            continue
        if q not in a:
            print(f"only in B: {q}")
            continue
        la, lb = lines(a[q]), lines(b[q])
        if la == lb:
            same.append(q)
            print(f"same  {q}")
            continue
        diff.append(q)
        print(f"DIFF  {q}")
        for ln in difflib.unified_diff(la, lb, lineterm="", n=0):
            if not ln.startswith(("---", "+++", "@@")):
                print(f"    {ln}")
    one_side = len(a.keys() ^ b.keys())
    print(f"{len(same)} same, {len(diff)} differ, {one_side} on one side only")
    if diff:
        print("differ: " + ", ".join(diff))
    return 0 if not diff and not one_side else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
