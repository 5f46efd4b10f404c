#!/usr/bin/env python3
"""The repo benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the harness
from source with sbt (once; later runs reuse the build while the sources
are unchanged), generates the workload's inputs from the seed, times the
workload at local[<cores>] (many_tables: graft.job.ForecastCli as its own
JVM; query_mix: the harness JVM, perfbench.Main), or with --trace 1
replays it with per-layer spans and Spark counters, checks the outputs,
and prints one JSON object as the last line of stdout. Everything it
writes stays under .bench_build/ in the checkout; see NOTES.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import checks
import gen
import oracle

STARTED = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Workload inputs (see NOTES.md for why each is shaped this way).
MANY_TABLES = 3           # ForecastCli <db> 7 over 3 tables, 2-4 metrics each
QUERY_SF = 0.01           # fixture scale of query_mix
HEAP = "3g"

# Host-contention probe: fixed BLAS work, median of 3. The floor is its
# median on an idle 4-core x86-64 host (see NOTES.md); a run whose probe
# exceeds 1.25 x floor before or after is flagged, never rescaled.
PROBE_FLOOR_S = 0.062
PROBE_FLAG = 1.25

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; returns
    the runtime classpath and whether this call built."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return open(cp_file).read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail(3, "build failed")
    log(f"built in {time.time() - t0:.0f} s")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip(), True


def probe():
    """Median seconds of a fixed matrix-multiply workload."""
    a = np.random.Generator(np.random.PCG64(0)).standard_normal((600, 600))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(20):
            a @ a
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def java(classpath, main_args, work, timeout, extra=(), stdout=None):
    """Run one JVM at local[<cores>] with every file it writes under work;
    returns its exit code, or None if it was killed at the timeout."""
    cores = os.cpu_count() or 1
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dspark.master=local[{cores}]",
              "-Dspark.ui.enabled=false",
              "-Dspark.driver.host=localhost",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dderby.system.home={work}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + list(extra) + ["-cp", classpath] + main_args)
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=stdout or sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def heap_peak_mb(gc_log):
    """Peak heap in use after a collection, from a -Xlog:gc file: the 90th
    percentile over the collections, as perfbench.HeapWatch takes it."""
    scale = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    after = [int(m.group(1)) * scale[m.group(2)] for line in open(gc_log)
             for m in [re.search(r"->(\d+)([KMG])\(", line)] if m]
    return quantile(after, 0.9) if after else None


def fit_reference(classpath, work):
    """fit(requests) for checks: driver-side reference fits via perfbench.Fit."""
    def fit(requests):
        if not requests:
            return {}
        req, ans = os.path.join(work, "fit_in.tsv"), os.path.join(work, "fit_out.tsv")
        checks.write_requests(req, requests)
        if java(classpath, ["perfbench.Fit", req, ans], work, 120) != 0:
            return {}
        return checks.read_answers(ans)
    return fit


def forecast_timed(a, classpath, work, deadline_s):
    """Time ForecastCli as its own process, as a user runs it; check its outputs."""
    setups = []
    for i in range(3):  # set-up: generating the seeded catalog, median of 3
        t0 = time.perf_counter()
        layout = gen.forecast_catalog(os.path.join(work, f"input{i}"), a.seed, MANY_TABLES)
        setups.append(time.perf_counter() - t0)
    db = os.path.join(work, "input0")
    for i in (1, 2):
        shutil.rmtree(os.path.join(work, f"input{i}"))
    args = [db, str(checks.INTERVAL)]
    n_series = sum(len(m) for m in layout.values())
    walls, heaps, failed, attempted = [], [], 0, 0
    end = time.time() + a.seconds
    while not walls or time.time() < end:
        for f in os.listdir(db):
            if f.startswith("bucket_forecast_"):
                shutil.rmtree(os.path.join(db, f))
        gc_log = os.path.join(work, f"gc{len(walls)}.log")
        out_path = os.path.join(work, f"cli{len(walls)}.out")
        with open(out_path, "w") as out:
            t0 = time.perf_counter()
            rc = java(classpath, ["graft.job.ForecastCli"] + args, work,
                      deadline_s - (time.time() - STARTED), [f"-Xlog:gc:file={gc_log}"], out)
            walls.append(time.perf_counter() - t0)
        summary = open(out_path).read()
        log(f"CLI run {len(walls)}: {walls[-1]:.2f} s, exit {rc}: {summary.strip()}")
        if rc != 0:
            fail(4, "ForecastCli failed")
        heaps.append(heap_peak_mb(gc_log))
        counts = dict((k, int(v)) for k, v in re.findall(r"(\w+)=(\d+)", summary))
        attempted += len(layout) + n_series
        failed += max(0, len(layout) - counts.get("created", 0)) + counts.get("failedSeries", 0)
    series = sorted((t, m) for t, ms in layout.items() for m in ms)
    rng = np.random.Generator(np.random.PCG64(a.seed))
    sampled = [series[i] for i in sorted(rng.choice(len(series), 4, replace=False))]
    checked = checks.forecast_outputs(db, layout, sampled, fit_reference(classpath, work))
    out_bytes = sum(dir_bytes(os.path.join(db, f)) for f in os.listdir(db)
                    if f.startswith("bucket_forecast_"))
    in_bytes = sum(dir_bytes(os.path.join(db, f"{t}.parquet")) for t in layout)
    metrics = {
        "wall_s": statistics.median(walls),
        "items_per_s": n_series * len(walls) / sum(walls),
        # the operation here is one CLI invocation
        "op_p50_s": quantile(walls, 0.5),
        "op_p80_s": quantile(walls, 0.8),
        "setup_s": statistics.median(setups),
        "heap_peak_mb": None if None in heaps else statistics.median(heaps),
        "storage_ratio": out_bytes / in_bytes,
    }
    return {"metrics": metrics, "attempted": attempted + len(checked),
            "failed": failed + sum(not c["ok"] for c in checked), "checks": checked}


def quantile(xs, q):
    """Linear-interpolated quantile, numpy's default."""
    return float(np.quantile(np.asarray(xs, dtype=np.float64), q))


def dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(path) for f in fs)


def in_jvm(a, classpath, work, deadline_s):
    """query_mix (timed or traced) and the traced many_tables run."""
    db = os.path.join(work, "input")
    if a.workload == "query_mix":
        gen.fixtures(db, a.seed, QUERY_SF)
    else:
        gen.forecast_catalog(db, a.seed, MANY_TABLES)
    out = os.path.join(work, "result.json")
    rc = java(classpath, [
        "perfbench.Main", "--workload", a.workload, "--dir", db, "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--seed", str(a.seed), "--out", out], work, deadline_s - (time.time() - STARTED))
    if rc != 0 or not os.path.exists(out):
        fail(4, f"benchmark JVM exited with {rc}")
    res = json.load(open(out))
    if a.workload == "query_mix" and not a.trace:
        graded = oracle.compare(db, os.path.join(work, "results"),
                                json.load(open(os.path.join(work, "oracle_sql.json"))))
        res["checks"] += graded
        res["attempted"] += len(graded)
        res["failed"] += sum(not c["ok"] for c in graded)
    if a.trace:
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail(2, "BENCHMARK.json not found: run from the root of a checkout")
    spec = json.load(open(spec_path))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(2, f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(2, "the library sources (build.sbt, src/main/scala/graft) are not here")

    classpath, built = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # seconds from start by which the run must be over (more after a build)
    deadline_s = 890.0 if built else 170.0
    try:
        probe_before = probe()
        if a.workload == "query_mix" or a.trace:
            res = in_jvm(a, classpath, work, deadline_s)
        else:
            res = forecast_timed(a, classpath, work, deadline_s)
        probe_after = probe()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a, spec, res, probe_before, probe_after)


def report(a, spec, res, probe_before, probe_after):
    checked, attempted, failed = res["checks"], res["attempted"], res["failed"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None and a.trace and not applies(m["name"], a.workload):
            v = 0.0
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    bad = [c for c in checked if not c["ok"]]
    correct = not bad and not missing and failed == 0
    flag = max(probe_before, probe_after) / PROBE_FLOOR_S
    for c in bad[:20]:
        log(f"check failed: {c['name']}: {c['detail']}")
    if missing:
        log(f"metrics missing from the result: {missing}")
    for name, m in metrics.items():
        print(f"{a.workload:14s} {name:26s} {m['value']:>16.6g} {m['unit']}")
    print(f"{a.workload:14s} {'failed_frac':26s} {failed / max(1, attempted):>16.6g} ratio")
    print(f"{a.workload:14s} checks {len(checked) - len(bad)}/{len(checked)} passed; "
          f"output check verdict: {'correct' if correct else 'INCORRECT'}")
    print(f"{a.workload:14s} host probe before {probe_before:.4f} s, after {probe_after:.4f} s, "
          f"floor {PROBE_FLOOR_S:.4f} s: "
          f"{'CONTENDED' if flag > PROBE_FLAG else 'quiet'} (x{flag:.2f})")
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))


def applies(metric, workload):
    """Whether a per-layer metric belongs to the layers a workload enters."""
    if metric.startswith("query."):
        return workload == "query_mix"
    if metric.split(".")[0] in ("catalog", "series", "forecast", "job"):
        return workload != "query_mix"
    return True


if __name__ == "__main__":
    main()
