#!/usr/bin/env python3
"""Collects sets of benchmark runs and compares two of them.

    python3 perfbench/compare.py collect --workload W --seeds 1-10 [--trace 0|1] --out DIR
    python3 perfbench/compare.py spread DIR
    python3 perfbench/compare.py compare PARENT_DIR CHANGE_DIR

`collect` runs perfbench/run.py once per seed and keeps each run's result
line as DIR/<workload>.t<trace>.s<seed>.json. `spread` prints, per (metric,
workload), the median, the quartiles and the spread (quartile distance as a
share of the median) of one set. `compare` prints, per (end-to-end metric,
workload): each side's median and quartiles, the pairs the change wins
(runs paired by seed; ties count for neither side), and a verdict by the
rule of the choosing-metrics guide, section 8, against the bounds in
BENCHMARK.json:

  - improved: the change wins at least nine tenths of the pairs, and the
    medians differ by more than the parent's quartile distance;
  - worse: the change's median is worse than the parent's by more than the
    metric's bound;
  - unresolved: neither, and either side's spread is wider than the bound
    (unless every change run reads better than every parent run, which
    counts as improved);
  - no change: otherwise.

Beside each workload it prints the per-layer medians of traced runs
(trace 1) of both sides and their relative delta.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END = {m["name"]: m for m in SPEC["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def load(d):
    """{(workload, trace): {seed: metrics}} from one set directory."""
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        workload, trace, seed = f.stem.rsplit(".", 2)
        res = json.loads(f.read_text())
        out.setdefault((workload, trace), {})[seed] = {
            k: v["value"] for k, v in res["metrics"].items()}
    return out


def collect(a):
    lo, hi = (int(x) for x in a.seeds.split("-"))
    out = Path(a.out)
    out.mkdir(parents=True, exist_ok=True)
    for seed in range(lo, hi + 1):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
             "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            raise SystemExit(f"run failed: {a.workload} seed {seed}")
        res = json.loads(last)
        if not res["correct"]:
            print(f"seed {seed}: outputs incorrect ({res['failed']} of {res['attempted']} failed)")
        (out / f"{a.workload}.t{a.trace}.s{seed}.json").write_text(last + "\n")
        print(f"{a.workload} seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)


def spread(a):
    for (workload, trace), runs in sorted(load(a.dir).items()):
        names = sorted({k for m in runs.values() for k in m})
        print(f"{workload} (trace {trace[1:]}, {len(runs)} runs)")
        for k in names:
            xs = [m[k] for m in runs.values() if k in m]
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / abs(med) if med else float("nan")
            bound = END.get(k, {}).get("bound")
            flag = "" if bound is None else (" ok" if rel < bound / 3 else
                                             " within bound" if rel <= bound else " TOO WIDE")
            print(f"  {k:28s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  spread {rel:7.2%}"
                  + (f"  bound {bound:.0%}{flag}" if bound is not None else ""))


def verdict(name, a, b):
    better_lower = END[name]["better"] == "lower"
    bound = END[name]["bound"]

    def better(x, y):
        return x < y if better_lower else x > y

    qa1, ma, qa3 = quartiles(list(a.values()))
    qb1, mb, qb3 = quartiles(list(b.values()))
    seeds = sorted(set(a) & set(b))
    wins = sum(better(b[s], a[s]) for s in seeds)
    losses = sum(better(a[s], b[s]) for s in seeds)
    worse_by = (mb - ma) / abs(ma) if better_lower else (ma - mb) / abs(ma)
    if seeds and better(mb, ma) and wins >= 0.9 * len(seeds) and abs(mb - ma) > (qa3 - qa1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif (qa3 - qa1) / abs(ma) > bound or (qb3 - qb1) / abs(mb) > bound:
        v = "improved" if all(better(y, x) for x in a.values() for y in b.values()) \
            else "unresolved"
    else:
        v = "no change"
    return (qa1, ma, qa3), (qb1, mb, qb3), wins, losses, len(seeds), v


def compare(a):
    pa, pb = load(a.parent), load(a.change)
    for workload in sorted({w for w, _ in pa} | {w for w, _ in pb}):
        print(f"== {workload}")
        ea, eb = pa.get((workload, "t0"), {}), pb.get((workload, "t0"), {})
        for name in END:
            xa = {s: m[name] for s, m in ea.items() if name in m}
            xb = {s: m[name] for s, m in eb.items() if name in m}
            if not xa or not xb:
                continue
            (a1, am, a3), (b1, bm, b3), wins, losses, n, v = verdict(name, xa, xb)
            print(f"  {name:16s} parent {am:10.5g} [{a1:.5g}, {a3:.5g}]  change {bm:10.5g} "
                  f"[{b1:.5g}, {b3:.5g}]  change wins {wins}/{n} (loses {losses})  {v}")
        la, lb = pa.get((workload, "t1"), {}), pb.get((workload, "t1"), {})
        for name in sorted({k for m in la.values() for k in m} & {k for m in lb.values() for k in m}):
            ma = statistics.median(m[name] for m in la.values() if name in m)
            mb = statistics.median(m[name] for m in lb.values() if name in m)
            delta = f"{(mb - ma) / abs(ma):+.1%}" if ma else "n/a"
            print(f"    layer {name:28s} {ma:12.5g} -> {mb:12.5g}  {delta}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, default=0)
    c.add_argument("--out", required=True)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    p = sub.add_parser("compare")
    p.add_argument("parent")
    p.add_argument("change")
    a = ap.parse_args()
    {"collect": collect, "spread": spread, "compare": compare}[a.cmd](a)


if __name__ == "__main__":
    main()
