#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload clickbench --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt and generates the fixture data (minutes); later runs
reuse both while the sources are unchanged. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics that
BENCHMARK.json declares (end-to-end ones with --trace 0, per-layer ones
with --trace 1). The line before it holds the run's details: host noise,
per-kind latencies and any failures.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # a run, after any build, ends within 180 s
BUILD_LIMIT_S = 420  # build, prepare and the first run end within 900 s
PREPARE_LIMIT_S = 300
HEAP = "-Xmx3g"


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Digest of every file the build reads: a change rebuilds, and the
    fixtures are rebuilt by the code under test."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    roots += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src/main")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) if "target" not in d.split(os.sep)
            for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, log_path, cwd, env=None):
    """Runs cmd in its own process group with a deadline; on timeout the
    whole group is killed. Waits for the process either way."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(stamp, logs):
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(logs, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launchFile"],
                     BUILD_LIMIT_S, log, HERE, env)
    if rc != 0 or not os.path.exists(launch):
        fail("build failed (exit %s):\n%s" % (rc, tail(log)))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def java_cmd(launch, mode, result, extra):
    """The JVM command line; Spark's and the JVM's scratch files go to a
    fresh directory inside the work dir."""
    with open(launch) as f:
        opts = [l for l in f.read().split("\n") if l]
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return (["java", HEAP, "-Djava.io.tmpdir=" + tmp] + opts + ["perfbench.Main", "--mode", mode,
            "--work", WORK, "--result", result] + extra)


def prepare(launch, stamp, logs):
    prepared = os.path.join(WORK, "prepared.json")
    stamp_file = os.path.join(WORK, "prepared.stamp")
    if os.path.exists(prepared) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in (prepared, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    # the fixtures are rebuilt from nothing by the code under test: a
    # table another source state wrote is never read
    for d in ("data", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    log = os.path.join(logs, "prepare.log")
    rc = run_bounded(java_cmd(launch, "prepare", prepared, []), PREPARE_LIMIT_S, log, ROOT)
    if rc != 0 or not os.path.exists(prepared):
        fail("fixture preparation failed (exit %s):\n%s" % (rc, tail(log)))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def clear_scratch_tables():
    """Deletes the tables earlier runs created, with their trash, so the
    engine's boot restores only the fixtures, whatever ran before."""
    wh = os.path.join(WORK, "warehouse")
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d.startswith("perfbench_") or d == "_graft_dropped":
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload " + a.workload)
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no engine sources here (%s missing): run from a checkout root" % need)

    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    stamp = source_hash()
    launch = build(stamp, logs)
    prepare(launch, stamp, logs)
    clear_scratch_tables()

    t0 = time.time()
    tag = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, int(t0 * 1000))
    result = os.path.join(WORK, "results", tag + ".json")
    os.makedirs(os.path.dirname(result), exist_ok=True)
    log = os.path.join(logs, tag + ".log")
    rc = run_bounded(java_cmd(launch, "run", result,
                              ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace)]),
                     RUN_LIMIT_S - (time.time() - t0), log, ROOT)
    if rc != 0 or not os.path.exists(result):
        fail("run failed (exit %s):\n%s" % (rc, tail(log)))
    with open(result) as f:
        r = json.load(f)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = r["metrics"].get(m["name"])
        if not isinstance(v, (int, float)):
            fail("the run did not measure %s" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"detail": r.get("detail", {}), "result_file": os.path.relpath(result, ROOT)}))
    print(json.dumps({"correct": bool(r["correct"]) and r["failed"] == 0,
                      "attempted": int(r["attempted"]), "failed": int(r["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
