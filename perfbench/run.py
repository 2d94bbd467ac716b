#!/usr/bin/env python3
"""Runs one perfbench workload against the engine: ingest, search or batch.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

The first run in a checkout compiles the engine and the benchmark from
source with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. The workload itself runs in one JVM. The last
line printed is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full report (every named
metric, host telemetry, checks) and, when traced, the span file are
written under perfbench/work/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "search", "batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Digest of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, work):
    """Compiles engine + benchmark; returns the runtime classpath."""
    stamp = os.path.join(work, "build.stamp")
    cpfile = os.path.join(work, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp) and os.path.exists(cpfile):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cpfile) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines() if os.pathsep in l and ".jar" in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cpfile, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def heap():
    """Heap for the benchmark JVM: a quarter of memory, 2 to 6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(6, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated benchmark takes its build or its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: the engine sources are missing")
    work = os.path.join(BENCH, "work")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    result = os.path.join(work, f"result-{a.workload}.json")
    if os.path.exists(result):
        os.remove(result)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--result", result, "--root", root])
    log = os.path.join(work, f"jvm-{a.workload}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{a.workload} run exceeded {RUN_TIMEOUT_S} s (JVM log: {log})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    sys.stdout.write(stdout)
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{a.workload} run failed (exit {proc.returncode}, JVM log: {log})")
    with open(result) as f:
        res = json.load(f)
    missing = [k for k, v in res["metrics"].items() if v["value"] is None]
    if missing:
        fail(f"metrics without a value: {', '.join(missing)}")
    print(json.dumps(res, separators=(", ", ": ")))
    if not res["correct"]:
        print("perfbench: correctness check failed (see the CHECK FAILED lines)", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
