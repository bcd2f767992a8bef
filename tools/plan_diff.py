#!/usr/bin/env python3
"""Compare two graft.tools.PlanDump directories query by query.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

PlanDump writes one `<query>_<suffix>.txt` per query. Files are paired by
query name (the trailing `_<suffix>` is dropped), then compared after
masking what differs between two runs of the same plan: expression ids
(`#123`), plan ids (`plan_id=7`), RDD ids (`MapPartitionsRDD[54]`),
lambda-variable suffixes (`x_144`), source line numbers
(`Search.scala:123`), JVM lambda class names (`Ewma$$$Lambda$6998/0x7f…`)
and identity hash codes (`[J@8172844`). Prints each query whose masked
plans differ with its first differing lines, then a summary line. Exits 1 when any plan differs or a query is present on one
side only.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([A-Za-z]{1,5})_\d+\b"), r"\1_N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(?<=[\w$;\[])@[0-9a-f]+\b"), "@H"),
]


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def load(d):
    plans = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt") and "_" in f:
            name = f[: -len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                plans[name] = mask(fh.read())
    return plans


def main(argv):
    ap = argparse.ArgumentParser(description="Compare two PlanDump directories.")
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    opts = ap.parse_args(argv)
    args = [opts.dir_a, opts.dir_b]
    a, b = load(args[0]), load(args[1])
    only_a, only_b = sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys())
    differ = [q for q in sorted(a.keys() & b.keys()) if a[q] != b[q]]
    for q in only_a:
        print(f"only in {args[0]}: {q}")
    for q in only_b:
        print(f"only in {args[1]}: {q}")
    for q in differ:
        print(f"DIFFERS: {q}")
        lines = difflib.unified_diff(a[q].splitlines(), b[q].splitlines(),
                                     lineterm="", n=0)
        for line in list(lines)[2:12]:
            print("    " + line)
    common = len(a.keys() & b.keys())
    print(f"{common - len(differ)} identical, {len(differ)} differ, "
          f"{len(only_a)} only in A, {len(only_b)} only in B")
    return 1 if differ or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
