#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload from one seed.

Usage (from the repository root):
    python3 perfbench/run.py --workload {curation,relational_mr,ingest}
        --seed N --seconds S --trace {0,1}

Steps, each outside every timed window:
  1. build the engine and the harness (sbt, cached by source digest);
  2. generate the workload's inputs from the seed (cached per seed, with a
     content digest);
  3. run the harness JVM: set-up rounds, then timed passes for S seconds;
  4. check every output: catalog queries against their DuckDB oracle
     (cached per seed), MapReduce against `MapReduce.sequential`, ingest
     against the planted ground truth and `KvStore.replayHolistic`;
  5. print one JSON line: end-to-end metrics (--trace 0) or per-layer
     metrics (--trace 1).
Build products, inputs, oracles, logs and traces live under .bench_build/.
"""
import argparse
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time
from statistics import median, quantiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("curation", "relational_mr", "ingest")
RUN_LIMIT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building engine + harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850, stdin=subprocess.DEVNULL)
    lines = [ln for ln in proc.stdout.splitlines() if "perfbench" in ln and os.pathsep in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


# --------------------------------------------------------------- inputs

def inputs(workload, seed):
    import gen
    out = os.path.join(BUILD, "inputs", workload, f"seed-{seed}")
    if os.path.exists(os.path.join(out, "DIGEST")):
        with open(os.path.join(out, "DIGEST")) as fh:
            return out, fh.read().strip()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    d = gen.generate(workload, seed, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, d


# -------------------------------------------------------------- harness

def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 30)
    return f"{max(2, min(48, total * 2 // 5))}g"


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def java_command(cp, argv):
    """The harness JVM command: the options build.sbt gives `run`
    (add-opens, 1 GB code cache, UTC, heap rule), with Spark's scratch
    space inside .bench_build."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Harness"] + argv


def run_harness(cp, argv, work, deadline):
    """Run the harness JVM; its output goes to a log file. Killed (with its
    whole process group) if it outruns the run's deadline."""
    cmd = java_command(cp, argv)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    logf = os.path.join(work, "harness.log")
    with open(logf, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)

        def stop(signum, frame):  # a terminated run takes its JVM with it
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"terminated by signal {signum}", 1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded the run deadline; log: {logf}", 1)
    if rc != 0:
        with open(logf) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {rc}; log: {logf}", 1)


# --------------------------------------------------------------- oracle

def norm(df):
    """tools/selfcheck.py's normalisation: columns by name, rows by all
    columns, naive timestamps."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """tools/selfcheck.py's comparison: exact values after normalisation,
    int/float dtype skew is a failure. Returns a list of problems."""
    import pandas as pd
    got, want = norm(got), norm(want)
    probs = []
    if list(got.columns) != list(want.columns):
        return [f"cols got={list(got.columns)} want={list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows got={len(got)} want={len(want)}"]
    for c in got.columns:
        g, w = got[c], want[c]
        num = pd.api.types.is_numeric_dtype(g) and pd.api.types.is_numeric_dtype(w)
        gf, wf = pd.api.types.is_float_dtype(g), pd.api.types.is_float_dtype(w)
        if num and gf != wf:
            probs.append(f"col {c}: dtype skew got={g.dtype} want={w.dtype}")
        elif gf or wf:
            ga, wa = pd.to_numeric(g, errors="coerce"), pd.to_numeric(w, errors="coerce")
            d = (ga - wa).abs().max()
            if not (d == 0 or (isinstance(d, float) and math.isnan(d) and ga.isna().equals(wa.isna()))):
                probs.append(f"col {c}: max float delta {d}")
        elif not g.astype(str).equals(w.astype(str)):
            bad = (g.astype(str) != w.astype(str)).idxmax()
            probs.append(f"col {c}: first diff row {bad}: got={g[bad]!r} want={w[bad]!r}")
    return probs


def oracle_check(workload, seed, input_dir, work, oracle_sql):
    """Compare each catalog query's first result with its DuckDB oracle.
    Oracle results are cached per seed and SQL text. Returns {query: problems}."""
    import duckdb
    cache = os.path.join(BUILD, "oracle", workload, f"seed-{seed}")
    os.makedirs(cache, exist_ok=True)
    con = None
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256((sql + open(os.path.join(input_dir, "DIGEST")).read()).encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                want = pickle.load(fh)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(input_dir, 'tables', t + '.parquet')}'")
            t0 = time.time()
            want = con.execute(sql).df()
            log(f"oracle {name}: {time.time() - t0:.1f}s")
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(want, fh)
            os.rename(path + ".tmp", path)
        out = os.path.join(work, "outputs", name)
        try:
            got = duckdb.connect().execute(
                f"SELECT * FROM parquet_scan('{out}/*.parquet')").df()
            probs = compare(got, want)
        except Exception as e:  # unreadable output is a wrong output
            probs = [f"output unreadable: {e}"]
        if probs:
            bad[name] = probs
    return bad


# -------------------------------------------------------------- metrics

def p90(xs):
    """90th percentile, linear between the two nearest samples."""
    return quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def end_to_end(res):
    mb = res["input_bytes"] / 1048576.0
    # batch: the input one pass reads; ingest: the user bytes of the loop
    rate = mb / res["loop_s"] if "loop_s" in res else mb / median(res["pass_s"])
    return {
        "pass_s": (median(res["pass_s"]), "s"),
        "query_s_p50": (median(res["query_s"]), "s"),
        "query_s_p90": (p90(res["query_s"]), "s"),
        "input_mb_per_s": (rate, "MB/s"),
        "setup_s": (median(res["setup_s"]), "s"),
        "live_heap_mb": (median(res["heap_mb"]), "MB"),
    }


UNITS = {"_s": "s", "_mb": "MB", "_per_s": "1/s", "_share": "share",
         "_yield": "share", "_amp": "ratio"}


def unit_of(name):
    if name.endswith("_rows_per_s"):
        return "rows/s"
    for suf, u in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suf):
            return u
    return "count"


def per_layer(res):
    m = {k: (v, unit_of(k)) for k, v in res["layers"].items()}
    m["session.start_s"] = (median(res["session_start_s"]), "s")
    m["trace_overhead"] = (median(res["traced_pass_s"]) / median(res["pass_s"]), "ratio")
    return m


def check_names(metrics, spec, trace):
    """Exit non-zero unless the metrics are exactly BENCHMARK.json's."""
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    if sorted(metrics) != sorted(want):
        fail(f"metric names differ from BENCHMARK.json: missing "
             f"{sorted(set(want) - set(metrics))}, extra {sorted(set(metrics) - set(want))}", 1)


def self_times(spans):
    """Self time of each span: duration minus the part of its interval
    covered by its direct children. Returns {span id: seconds}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a0, b0 = s["start_ns"], s["end_ns"]
        iv = sorted((max(c["start_ns"], a0), min(c["end_ns"], b0)) for c in kids.get(s["id"], []))
        covered, cur = 0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = (b0 - a0 - covered) / 1e9
    return out


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a checkout of the repository")

    cp = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)  # a build gets its own budget
    t0 = time.time()
    input_dir, digest = inputs(a.workload, a.seed)
    log(f"inputs {a.workload} seed {a.seed}: sha256 {digest} ({time.time() - t0:.1f}s)")

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    run_harness(cp, ["run", a.workload, input_dir, work, str(a.seconds), str(a.trace)],
                work, deadline)
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    log(f"harness {time.time() - t0:.1f}s; setup_s {[round(x, 2) for x in res['setup_s']]}; "
        f"pass_s {[round(x, 2) for x in res['pass_s']]}")
    t0 = time.time()

    execs = res["executions"]
    bad = oracle_check(a.workload, a.seed, input_dir, work, res["oracle_sql"])
    failed = 0
    for e in execs:
        wrong = e["name"] in bad
        if not e["ok"] or wrong:
            failed += 1
    log(f"oracle check {time.time() - t0:.1f}s")
    for name, probs in sorted(bad.items()):
        log(f"WRONG {name}: {'; '.join(probs)}")
    for e in execs:
        if not e["ok"]:
            log(f"FAILED {e['name']} ({e['phase']}): {e['note']}")
    unchecked = sorted({e["name"] for e in execs if e["name"].startswith("q")} - set(res["oracle_sql"]))
    if unchecked:
        log(f"no oracle SQL (checked for repeatability only): {', '.join(unchecked)}")

    metrics = per_layer(res) if a.trace else end_to_end(res)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        check_names(metrics, json.load(fh), a.trace)
    log(f"samples: passes={len(res['pass_s'])} queries={len(res['query_s'])} "
        f"setups={len(res['setup_s'])} attempted={len(execs)} failed={failed}")
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    with open(os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({k: v for k, v in res.items() if k not in ("spans", "oracle_sql")}, fh)
    if a.trace:
        sp = res.get("spans", [])
        st = self_times(sp)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as fh:
            json.dump([dict(s, self_s=st[s["id"]]) for s in sp], fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
