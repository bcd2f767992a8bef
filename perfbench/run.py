#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload, one line of JSON.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from the checkout's sources (sbt, into perfbench/target) and computes
the expected query results with DuckDB over the sf0.1 fixtures in
perfbench/fixtures/sf0.1, then their digests (the form in which outputs are
compared) in a JVM of their own; all are cached under .perfbench_work/ and
reused while their inputs are unchanged. Each run then starts one fresh JVM
(perfbench/src/graft/perfbench), which sets the workload up once, cold, runs
operations in a closed loop for --seconds, checks every operation's output
and records it. This script
turns that record into metrics: the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1. The last line of standard
output is the JSON result; the lines before it print every metric by name and
unit, and the failed-operation ratio. README.md in this directory explains
the workloads and the metrics.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

# Workloads; README.md says why each exists. `tail` is the percentile
# reported as latency_tail_s. BENCHMARK.json lists the ones the benchmark
# is judged on; query_heavy and window_heal run on demand (README.md says
# why they are not in it).
WORKLOADS = {
    "query_tail": {
        "kind": "query", "tail": 64,
        "pool": ["q4_priority_exists", "q8_market_share", "q11_balance_concentration",
                 "q14_promo_effect", "q19_banded_revenue", "j5_anti_join",
                 "q6_forecast_revenue"],
    },
    "query_heavy": {
        "kind": "query", "tail": 90,
        "pool": ["x93_basket_lift", "w8_zscore_outliers", "x100_calibrated_release",
                 "a3b_percentile_builtin", "x130_video_neardup", "flagship_etl"],
    },
    "window_heal": {
        "kind": "query", "tail": 70, "heal_check": True,
        "conf": {"spark.graft.window.stockInputBytes": "0"},
        "pool": ["w11_cumulative_users", "x116_cum_corpus_share", "x117_doc_window_profile",
                 "x118_rolling_corpus_profile", "x122_centered_smooth", "x82_source_lorenz"],
    },
    "etl_arrivals": {
        "kind": "etl", "tail": 75,
        "tickers": 10, "days": 40, "per_arrival": 3, "late_every": 3,
    },
}

END_TO_END = [("latency_p50_s", "s"), ("latency_tail_s", "s"), ("ops_per_s", "1/s"),
              ("peak_rss_mb", "MB"), ("setup_s", "s")]
PER_LAYER = [
    ("session_start_s", "s"), ("datagen_s", "s"), ("warmup_s", "s"),
    ("build_s", "s"), ("build_jobs", "count"),
    ("plan_s", "s"), ("graft_exec_nodes", "count"), ("exchanges", "count"),
    ("exec_s", "s"), ("exec_jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_s", "s"), ("core_util", "ratio"), ("gc_s", "s"), ("scan_input_mb", "MB"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("land_s", "s"), ("raw_files_written", "count"), ("refined_write_s", "s"),
    ("refined_files_written", "count"), ("refined_bytes_written", "B"),
    ("reread_rows_per_landed_row", "ratio"), ("write_amplification", "ratio"),
    ("cycle_s", "s"), ("touched_assets", "count"),
    ("stream_latest_offset_s", "s"), ("stream_get_batch_s", "s"),
    ("stream_add_batch_s", "s"), ("stream_wal_commit_s", "s"),
    ("stream_query_planning_s", "s"), ("trace_overhead_pct", "%"),
]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
FIXTURES = HERE / "fixtures" / "sf0.1"
DEADLINE_S = 170  # a run must end within 180 s once built
WARMUP_LAPS = 3  # pool laps (or ETL arrivals) run cold in set-up, unmeasured


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles library + harness with sbt when their sources changed;
    returns the runtime classpath and the sources' digest."""
    sources = list((ROOT / "src" / "main").rglob("*.scala")) + \
        list((HERE / "src").rglob("*.scala")) + \
        [HERE / "build.sbt", HERE / "project" / "build.properties"]
    key = digest_files(sources)
    stamp = WORK / "build" / f"{key}.classpath"
    if stamp.exists():
        return stamp.read_text().strip(), key
    log("building library and harness with sbt")
    t0 = time.monotonic()
    env = dict(os.environ)
    # resolve only from the local caches, as the library's own build does
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx4g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.exists() else ""))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840, stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(lines[-1])
    log(f"built in {time.monotonic() - t0:.0f}s")
    return lines[-1], key


def fixtures():
    """The sf0.1 fixture tables, checked against their SHA256SUMS; returns
    the directory and a digest naming its contents."""
    sums = FIXTURES / "SHA256SUMS"
    for line in sums.read_text().splitlines():
        want, name = line.split()
        got = hashlib.sha256((FIXTURES / name).read_bytes()).hexdigest()
        if got != want:
            raise SystemExit(f"fixture {name} does not match SHA256SUMS")
    return FIXTURES, hashlib.sha256(sums.read_bytes()).hexdigest()[:16]


def java(classpath, args, timeout):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"] + [
           f"-Djava.io.tmpdir={WORK / 'run' / 'tmp'}",
           f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.PerfBench"] + args
    proc = subprocess.Popen(cmd, cwd=WORK / "run", stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("harness timed out")
    if code != 0:
        raise SystemExit(f"harness exited with {code}")


def expected_results(classpath, build_key, names, fx, fx_key):
    """Runs each query's DuckDB oracle SQL over the fixtures once and keeps
    the result as parquet; returns the directory."""
    pool_key = hashlib.sha256(",".join(names).encode()).hexdigest()[:16]
    sql_file = WORK / "build" / f"{build_key}.{pool_key}.oracle.json"
    if not sql_file.exists():
        tmp = WORK / "run" / "oracle.json"
        java(classpath, ["--mode", "oracle-sql", "--pool", ",".join(names),
                         "--out", str(tmp)], 120)
        tmp.rename(sql_file)
    sqls = json.loads(sql_file.read_text())
    missing = [n for n in names if n not in sqls]
    if missing:
        raise SystemExit(f"no oracle SQL for {missing}")
    key = hashlib.sha256((fx_key + json.dumps(sqls, sort_keys=True)).encode()).hexdigest()[:16]
    d = WORK / f"expected-{key}"
    if not (d / "_DONE").exists():
        import duckdb
        log(f"computing {len(names)} expected results with DuckDB")
        d.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx / (t + '.parquet')}')")
        for n in names:
            con.execute(f"COPY ({sqls[n]}) TO '{d / (n + '.parquet')}' (FORMAT parquet)")
        (d / "_DONE").write_text("")
    return d


def expected_digests(classpath, build_key, names, exp):
    """Takes the digest of each expected result once, in a JVM of its own,
    and keeps them; returns the file. A run reads it instead of running
    Spark jobs over the expected results before its set-up."""
    key = hashlib.sha256((exp.name + build_key + ",".join(names)).encode()).hexdigest()[:16]
    f = WORK / f"digests-{key}.tsv"
    if not f.exists():
        tmp = WORK / "run" / "digests.tsv"
        java(classpath, ["--mode", "digests", "--pool", ",".join(names), "--expected", str(exp),
                         "--work", str(WORK / "run" / "digests"), "--out", str(tmp)], 170)
        tmp.rename(f)
    return f


def percentile(xs, p):
    """Linear interpolation between order statistics."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def check_etl(rec, raw_dir):
    """Recomputes each arrival's touched tickers over raw/ in DuckDB (only
    the rows landed by then) and compares with what the cycle refined.
    Returns the ids of operations whose output differs."""
    import duckdb
    import pandas as pd
    ops = [op for op in rec["ops"] if op["etl"] is not None]
    if not ops:
        return set()
    landing = pd.DataFrame([(t, d, op["id"]) for op in ops for t, d in op["etl"]["landed"]],
                           columns=["ativo", "d", "op"])
    landing["d"] = pd.to_datetime(landing["d"]).dt.date
    pairs = pd.DataFrame([(op["id"], t) for op in ops for t in op["etl"]["touched"]],
                         columns=["k", "ativo"])
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.register("landing", landing)
    con.register("pairs", pairs)
    got = con.execute(f"""
        WITH r AS (
          SELECT raw.ativo, CAST(raw.Date AS DATE) AS d, raw.Close, raw.Volume,
                 coalesce(l.op, -1) AS op
          FROM read_parquet('{raw_dir}/**/*.parquet', hive_partitioning = true) raw
          LEFT JOIN landing l ON l.ativo = raw.ativo AND l.d = CAST(raw.Date AS DATE)),
        x AS (SELECT p.k, r.* FROM pairs p JOIN r ON r.ativo = p.ativo AND r.op <= p.k),
        w AS (
          SELECT k, ativo, Close, Volume,
                 CASE WHEN row_number() OVER o >= 7 THEN
                   avg(Close) OVER (o ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) END AS mm
          FROM x WINDOW o AS (PARTITION BY k, ativo ORDER BY d, Close))
        SELECT k, ativo, count(*), count(mm), coalesce(sum(mm), 0), avg(Close),
               CAST(sum(Volume) AS DOUBLE)
        FROM w GROUP BY k, ativo""").fetchall()
    want = {(k, a): v for k, a, *v in got}
    bad = set()
    for op in ops:
        for t in op["etl"]["touched"]:
            e, g = want.get((op["id"], t)), op["etl"]["refined"].get(t)
            if e is None or g is None or e[0] != g[0] or e[1] != g[1] or any(
                    abs(x - y) > 1e-6 * max(1.0, abs(y)) for x, y in zip(g[2:], e[2:])):
                log(f"etl check failed: op {op['id']} {t}: refined {g} vs recomputed {e}")
                bad.add(op["id"])
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        raise SystemExit("perfbench: the library's sources (src/main/scala) are not in this checkout")
    w = WORKLOADS[a.workload]
    classpath, build_key = build()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    args = ["--mode", "run", "--kind", w["kind"], "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--warmup-laps", str(WARMUP_LAPS), "--work", str(run_dir / "spark"),
            "--out", str(run_dir / "ops.json"), "--spans", str(WORK / f"spans-{a.workload}.json")]
    for k, v in w.get("conf", {}).items():
        args += ["--conf", f"{k}={v}"]
    if w["kind"] == "query":
        fx, fx_key = fixtures()
        exp = expected_results(classpath, build_key, w["pool"], fx, fx_key)
        digests = expected_digests(classpath, build_key, w["pool"], exp)
        args += ["--fixtures", str(fx), "--expected-digests", str(digests),
                 "--pool", ",".join(w["pool"])]
        if w.get("heal_check"):
            args += ["--heal-check", "1"]
    else:
        args += ["--tickers", str(w["tickers"]), "--days", str(w["days"]),
                 "--per-arrival", str(w["per_arrival"]), "--late-every", str(w["late_every"])]
    # the build and the cached preparation above have the first run's
    # longer allowance
    java(classpath, args, DEADLINE_S)
    rec = json.loads((run_dir / "ops.json").read_text())

    for msg in rec["heal_failures"]:
        log("heal lane:", msg)
    bad = {op["id"] for op in rec["ops"] if op["error"] is not None}
    for op in rec["ops"]:
        if op["error"] is not None:
            log(f"op {op['id']} {op['name']} failed: {op['error']}")
    if w["kind"] == "etl":
        bad |= check_etl(rec, run_dir / "spark" / "etl" / "raw")
    ops = rec["ops"]
    attempted, failed = len(ops), len(bad)
    ok = [op for op in ops if op["id"] not in bad]
    correct = failed == 0 and not rec["heal_failures"] and attempted > 0

    if a.trace == 0:
        # latencies of completed operations; if none completed, the time the
        # failed ones took, so the line stays valid JSON
        lat = [op["latency_s"] for op in ok] or [op["latency_s"] for op in ops]
        tail = w["tail"]
        beyond = len(lat) - math.ceil(len(lat) * tail / 100.0)
        if beyond < 10:
            log(f"only {beyond} operations beyond p{tail}; the tail is under-sampled")
        metrics = {
            "latency_p50_s": percentile(lat, 50),
            "latency_tail_s": percentile(lat, tail),
            "ops_per_s": len(ok) / rec["measure_s"],
            "peak_rss_mb": rec["peak_rss_mb"],
            "setup_s": sum(rec["setup"].values()),
        }
        units = dict(END_TO_END)
        print(f"workload {a.workload}: {attempted} operations, tail = p{tail}, "
              f"measured {rec['measure_s']:.1f}s on {rec['cores']} cores")
    else:
        traced = [op for op in ok if op["traced"]]
        metrics = {}
        for name, _ in PER_LAYER:
            vals = [op["layers"][name] for op in traced if name in op["layers"]]
            metrics[name] = statistics.median(vals) if vals else 0.0
        metrics.update(rec["setup"])
        busy = sum(op["layers"].get("exec_s", 0.0) or op["latency_s"] for op in traced)
        task = sum(op["layers"].get("task_s", 0.0) for op in traced)
        metrics["core_util"] = task / (busy * rec["cores"]) if busy else 0.0
        laps = {}
        for op in ok:
            laps.setdefault((op["lap"], op["traced"]), []).append(op["latency_s"])
        on = [sum(v) for (_, t), v in laps.items() if t]
        off = [sum(v) for (_, t), v in laps.items() if not t]
        metrics["trace_overhead_pct"] = \
            (statistics.median(on) / statistics.median(off) - 1.0) * 100.0 if on and off else 0.0
        units = dict(PER_LAYER)
        print(f"workload {a.workload}: {len(traced)} traced operations of {attempted}, "
              f"spans in {WORK.name}/spans-{a.workload}.json")
    for name, v in metrics.items():
        print(f"  {name:28s} {v:14.6g} {units[name]}")
    print(f"  {'failed_ops_ratio':28s} {failed / max(1, attempted):14.6g} ratio")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
