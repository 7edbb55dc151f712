#!/usr/bin/env python3
"""Benchmark of the Dreem ETL DAG and a curation-gate mix.

Usage (from the repository root):
    python3 perfbench/run.py --workload <etl_daily|gate_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the driver from source on first use (sbt; the class
directories are copied to .bench_work/build/<fingerprint of the sources>,
so a later build of other sources cannot change them), generates the seeded
inputs, runs the driver JVM on `local[nproc]`, checks every output against
DuckDB, and prints one JSON line as the last line of stdout:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero if a check fails or nothing could run.
See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the benchmark builds and checks the program next to it; without it, stop
# before anything runs
_NEEDED = ["build.sbt", "src/main/scala/graft/EtlJob.scala", "tools/compare.py"]
_missing = [p for p in _NEEDED if not os.path.exists(os.path.join(ROOT, p))]
if _missing:
    sys.exit(f"program sources not found next to the benchmark: {_missing}")

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
DEADLINE_S = 170  # the whole command must end within 180 s

# Spark on JDK 17 outside spark-submit needs the JPMS opens (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# etl_daily's input sizes; see README.md for why they are these.
ETL_SIZES = dict(devices_per_site=100, history_days=60,
                 history_per_site_day=200, n_days=72, per_site_day=40)
GATE_SF = 0.01
PAYLOAD_BYTES = 4096
GEN_REPEATS = 3


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile program + driver once per source fingerprint.

    sbt's class directories are rebuilt in place by any later build, so
    they are copied under the fingerprint: a cached classpath always holds
    the classes of the sources it was built from.
    """
    build = os.path.join(WORK, "build", fingerprint())
    cache = os.path.join(build, "classpath")
    if os.path.exists(cache):
        with open(cache) as f:
            cp = f.read().strip()
        # a moved or cleaned checkout invalidates the cached entries
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building program and driver with sbt")
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    entries = []
    for i, p in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(p):
            copy = os.path.join(build, f"classes{i}")
            shutil.copytree(p, copy)
            p = copy
        entries.append(p)
    cp = os.pathsep.join(entries)
    with open(cache, "w") as f:
        f.write(cp)
    return cp


def generate(workload, seed, d):
    """Make the inputs of one run; returns (manifest, median seconds)."""
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(d, ignore_errors=True)
        t = time.perf_counter()
        if workload == "gate_mix":
            gen.gate_tables(d, seed, GATE_SF)
            man = {"tables": d}
        else:
            man = gen.etl_inputs(d, seed, **ETL_SIZES)
            man["history_ledger"] = os.path.join(d, "history_ledger.parquet")
            checks.write_history_ledger(man, man["history_ledger"])
        times.append(time.perf_counter() - t)
    man.update(workload=workload, seed=seed, payload_bytes=PAYLOAD_BYTES)
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump(man, f)
    return man, statistics.median(times)


def run_driver(cp, man_path, out, seconds, trace, cores, started):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
           "-cp", cp, "perfbench.Driver", man_path, out, str(seconds),
           str(trace), str(cores)]
    launched = time.time()
    with open(os.path.join(out, "driver.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("driver exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(out, "driver.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"driver exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    res["setup"]["launch_s"] = res["setup"]["session_ready_ms"] / 1000 - launched
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "gate_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = classpath()
    started = time.time()  # the first run's build has its own allowance
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out, exist_ok=True)
    try:
        man, gen_s = generate(a.workload, a.seed, inputs)
        cores = len(os.sched_getaffinity(0))
        res = run_driver(cp, os.path.join(inputs, "manifest.json"), out,
                         a.seconds, a.trace, cores, started)
        t = time.time()
        check_results = checks.check(a.workload, man, out, res)
        log(f"checks took {time.time() - t:.1f}s")
        for name, ok, detail in check_results:
            if not ok:
                log(f"CHECK FAILED {name}: {detail}")
        for e in res["errors"]:
            log(f"ERROR {e}")
        measured = [u for u in res["units"] if u["wall_s"] >= 0]
        attempted = sum(u["attempted"] for u in res["units"]) + len(check_results)
        failed = sum(u["failed"] for u in res["units"]) + \
            sum(1 for _, ok, _ in check_results if not ok)
        setup = res["setup"]
        setup_s = gen_s + setup["launch_s"] + setup.get("seed_s", 0.0) + \
            setup["warmup_s"]
        log(f"setup: gen {gen_s:.2f}s launch {setup['launch_s']:.2f}s "
            f"seed {setup.get('seed_s', 0):.2f}s warm-up {setup['warmup_s']:.2f}s;"
            f" {len(measured)} units: "
            + " ".join(f"{u['wall_s']:.3f}" for u in measured))
        if a.trace:
            metrics = {k: {"value": v, "unit": checks.unit_of(k)}
                       for k, v in res["metrics"].items()}
            metrics["fail_share"] = {"value": failed / attempted, "unit": "share"}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cycle_s": {"value": statistics.median(
                    u["wall_s"] for u in measured), "unit": "s"},
                "ok_share": {"value": 1 - failed / attempted, "unit": "share"},
                "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            }
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        if correct:
            shutil.rmtree(run_dir, ignore_errors=True)
        return 0 if correct else 1
    finally:
        # a failed run keeps its logs, but never its bulky inputs
        shutil.rmtree(inputs, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
