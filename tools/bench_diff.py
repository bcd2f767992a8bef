#!/usr/bin/env python3
"""Compare two Bench detail files (dev tool only; not part of the shipped
Scala library). Usage:

    python3 tools/bench_diff.py OLD_DETAIL.json NEW_DETAIL.json [ratio]

Prints per-query median ratios for queries present in both files, flagging
|ratio| beyond the threshold (default 1.5x), plus added/removed queries and
the total. Medians are compared; the [min,max] spread is shown so a noisy
median is visible as such. When both files carry per-query `exec_jobs`
medians, each flagged query also shows its old -> new Spark job count.
Exit code 1 if any regression beyond threshold.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    oq, nq = old["queries"], new["queries"]
    shared = sorted(set(oq) & set(nq))
    regressions = []
    improvements = []
    for q in shared:
        a, b = oq[q], nq[q]
        if a <= 0:
            continue
        r = b / a
        if r >= thr:
            regressions.append((r, q, a, b))
        elif r <= 1.0 / thr:
            improvements.append((r, q, a, b))
    oj, nj = old.get("exec_jobs", {}), new.get("exec_jobs", {})

    def jobs(q):
        return f" [jobs {oj[q]} -> {nj[q]}]" if q in oj and q in nj else ""

    for r, q, a, b in sorted(regressions, reverse=True):
        lo, hi = new.get("spread", {}).get(q, (b, b))
        print(f"SLOWER {r:5.2f}x  {q}: {a:.2f}s -> {b:.2f}s (new spread [{lo:.2f}, {hi:.2f}]){jobs(q)}")
    for r, q, a, b in sorted(improvements):
        print(f"faster {r:5.2f}x  {q}: {a:.2f}s -> {b:.2f}s{jobs(q)}")
    for q in sorted(set(nq) - set(oq)):
        print(f"added           {q}: {nq[q]:.2f}s")
    for q in sorted(set(oq) - set(nq)):
        print(f"removed         {q}")
    print(f"\ntotal: {old.get('value', 0):.1f}s -> {new.get('value', 0):.1f}s "
          f"({len(oq)} -> {len(nq)} queries); "
          f"{len(regressions)} beyond {thr}x, {len(improvements)} improved")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
