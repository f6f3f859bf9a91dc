#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the engine and the
harness from source with sbt (cached under .bench_build/ by a hash of
the sources), runs the workload in one JVM through the engine's public
surface, checks every output, and prints one JSON object as the last
line of stdout. With --trace 0 it reports the end-to-end metrics; with
--trace 1 a traced run reports the per-layer metrics. Each run's full
record is kept in .bench_build/perfbench/results/ for trace_report.py.

    python3 perfbench/run.py --record olap   # re-record expected digests

Re-record only after tools/check.py has matched the engine's results
against the DuckDB oracle at the same commit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected")
# A run, its build included, must end within this many seconds.
RUN_LIMIT_S = 175
FIRST_BUILD_LIMIT_S = 840
HEAP = "3g"
SETUPS = 3

WORKLOADS = ["olap", "pipeline", "ingest"]

# the packages Spark needs opened, shared with build.sbt
with open(os.path.join(HERE, "java-opens.txt")) as f:
    OPENS = [x for p in f.read().split() for x in ("--add-opens", p + "=ALL-UNNAMED")]

SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def sources_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group and waits for
    it when the timeout passes. Returns (exit code, timed out)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout)), False
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1, True
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(deadline):
    """The runtime classpath of the harness, compiled from source."""
    for f in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no engine sources at {os.path.join(ROOT, f)}: "
                 "run from the root of a full checkout", 2)
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", SBT_OPTS)
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        code, late = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            deadline - time.time(), cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if late or code != 0:
        fail(f"build failed (exit {code}, timed out {late}); see {out_path}")
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath; see {out_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def file_sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def java(cp, main, args, cwd, timeout, log_path):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + OPENS +
           ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", cp, main] + args)
    with open(log_path, "w") as out:
        return run_bounded(cmd, timeout, cwd=cwd, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)


def check_inputs():
    """The committed input files must match their recorded checksums."""
    with open(os.path.join(EXPECTED, "data.json")) as f:
        want = json.load(f)
    for name, h in sorted(want.items()):
        path = os.path.join(DATA, name)
        if not os.path.exists(path) or file_sha256(path) != h:
            fail(f"input {path} is missing or does not match its checksum")


def unit(name):
    if name == "rss_peak_mb":
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_row"):
        return "B/row"
    if name.endswith("_bytes"):
        return "B/op"
    if name.endswith("_frac") or name.endswith("cpu_util") or name == "trace.coverage":
        return "ratio"
    if name in ("setup.warm_jobs", "exec.task_failed", "snapshot.files"):
        return "count"
    return "1/op"


E2E_UNITS = {"setup_s": "s", "latency_gmean_s": "s", "throughput_ops_per_s": "1/s"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", choices=["olap", "pipeline"],
                    help="write the expected digests of a query workload")
    ap.add_argument("--verified", default="",
                    help="with --record: a graft.Verify output directory that "
                         "tools/check.py matched; every digest must agree with it")
    a = ap.parse_args()
    if not a.workload and not a.record:
        ap.error("--workload or --record is required")
    t0 = time.time()
    first = not os.path.exists(os.path.join(BUILD, "classpath.txt"))
    deadline = t0 + (FIRST_BUILD_LIMIT_S if first or a.record else RUN_LIMIT_S)
    check_inputs()
    cp = build(deadline)
    workload = a.record or a.workload
    if first:
        deadline = time.time() + RUN_LIMIT_S - 10

    run_dir = os.path.join(BUILD, "runs", f"{workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    args = ["--workload", workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", os.path.join(run_dir, "work"),
            "--out", raw_path, "--setups", str(SETUPS),
            "--expected", os.path.join(EXPECTED, f"{workload}.json")]
    if a.record:
        raw_path = os.path.join(EXPECTED, f"{workload}.json")
        args += ["--record", raw_path, "--setups", "1"]
        if a.verified:
            args += ["--verified", os.path.abspath(a.verified)]
    jvm_log = os.path.join(BUILD, f"last-{workload}.log")
    code, late = java(cp, "perfbench.Main", args, run_dir,
                      deadline - time.time(), jvm_log)
    if late or code != 0 or not os.path.exists(raw_path):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run failed (exit {code}, timed out {late}); see {jvm_log}")
    if a.record:
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"recorded {raw_path}")
        return
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = metrics.failures(raw)
    if a.trace:
        values = metrics.per_layer(raw)
        units = {k: unit(k) for k in values}
    else:
        values, info = metrics.end_to_end(raw)
        units = E2E_UNITS
        raw["summary"] = info
    for o in raw["ops"]:
        if not o["ok"]:
            log(f"op {o['id']} {o['name']} failed: {o['error']}")
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    raw["metrics"] = values
    with open(os.path.join(res_dir, f"{workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(raw, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
