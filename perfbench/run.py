#!/usr/bin/env python3
"""Run one workload of graft's end-to-end benchmark.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first call builds the
benchmark (graft's sources plus perfbench/src) with sbt into
perfbench/target; later calls reuse that build while the sources are
unchanged. Each call starts one JVM that sets up the workload's seeded
inputs, warms up, measures for --seconds, checks the outputs, and
writes a result file under perfbench/.work/results. This script prints
the workload's metrics by name, its checks and an environment
fingerprint, and as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans are written next to the result file).
--workload all runs every workload in turn.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["etl_daily", "corpus_prep", "ann_serve_ingest"]
RUN_LIMIT_S = 175          # one run, build excluded
BUILD_LIMIT_S = 900        # a run that has to build first
JVM_HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns (classpath, built)."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.json")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                got = json.load(fh)
            if got.get("digest") == digest:
                return got["classpath"], False
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        log_path = os.path.join(WORK, "build.log")
        with open(log_path, "w") as log:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime / fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S - 60)
            log.write(proc.stdout)
        lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
        cp = next((l for l in reversed(lines)
                   if os.path.join("perfbench", "target") in l and not l.startswith("[")), None)
        if proc.returncode != 0 or cp is None:
            tail = "\n".join(open(log_path).read().splitlines()[-30:])
            fail(f"build failed (see {log_path}):\n{tail}", 3)
        with open(stamp, "w") as fh:
            json.dump({"digest": digest, "classpath": cp}, fh)
        return cp, True


def run_jvm(classpath, workload, seed, seconds, trace, limit_s):
    """Runs one workload in its own JVM; returns the parsed result file."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", run_dir,
              "--result", result])
    env = dict(os.environ)
    env["GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "local")
    log_path = os.path.join(WORK, f"jvm-{workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=limit_s)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGTERM)
                try:
                    proc.wait(timeout=5)
                except subprocess.TimeoutExpired:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                fail(f"{workload} did not finish within {limit_s:.0f} s (log: {log_path})", 4)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        tail = "\n".join(open(log_path).read().splitlines()[-30:])
        fail(f"{workload} exited with {rc} (log: {log_path}):\n{tail}", 5)
    with open(result) as fh:
        return json.load(fh)


def show(res):
    """Human-readable lines: every metric by name with unit and samples."""
    info = res["info"]
    print(f"# workload {res['workload']} seed {res['seed']} seconds {res['seconds']} "
          f"trace {res['trace']}")
    print(f"# env nproc={info.get('nproc')} master={info.get('master')} "
          f"load_1m start={info.get('load_1m_start')} end={info.get('load_1m_end')}")
    print(f"# input content hash {info.get('input_hash')}")
    for m in res["named"]:
        print(f"metric {m['name']} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    for c in res["checks"]:
        print(f"check {'PASS' if c['ok'] else 'FAIL'} {c['name']}"
              + (f": {c['detail']}" if c["detail"] else ""))
    if "spans" in info:
        print(f"# spans {info['spans']}")
    for k, v in res["metrics"].items():
        print(f"{'layer' if str(res['trace']) == '1' else 'e2e'} {k} = {v['value']} {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout", 3)
    t0 = time.monotonic()
    classpath, built = build()
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    out = {}
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        res = run_jvm(classpath, w, a.seed, a.seconds, a.trace, limit)
        show(res)
        out[w] = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        if a.workload == "all":
            print(json.dumps(out[w]))
            limit = RUN_LIMIT_S
    if a.workload == "all":
        print(json.dumps({"correct": all(o["correct"] for o in out.values()),
                          "attempted": sum(o["attempted"] for o in out.values()),
                          "failed": sum(o["failed"] for o in out.values()),
                          "metrics": {f"{w}.{k}": v for w, o in out.items()
                                      for k, v in o["metrics"].items()}}))
    else:
        print(json.dumps(out[a.workload]))


if __name__ == "__main__":
    main()
