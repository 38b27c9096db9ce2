#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload vote-live --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the program together with the
benchmark (an sbt project in this directory, offline) and caches the
classpath under .bench_build/; later runs rebuild only when a source
file changed. Each run is one JVM. Its log goes to stderr; the last
line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}.
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

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("vote-live", "catalog")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit (as in the root build).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# vote-live's window starts seconds into the JVM, while the optimising JIT
# (C2) is still compiling the per-batch path: with it, file latency fell by
# a quarter across a 30 s window, and how far compilation had got moved it
# from run to run. The first tier alone finishes before the window (see the
# README). catalog's untimed warm-up pass covers C2's warm-up.
JIT_FLAGS = {"vote-live": ["-XX:TieredStopAtLevel=1"], "catalog": []}
# the program puts harness checkpoints and sinks here when it is writable
SCRATCH_ROOT = "/dev/shm"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in filter(os.path.exists, roots):
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program (its own root build) and the benchmark unless
    the cached build is current; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def program_scratch():
    if not (os.path.isdir(SCRATCH_ROOT) and os.access(SCRATCH_ROOT, os.W_OK)):
        return set()
    return {os.path.join(SCRATCH_ROOT, n) for n in os.listdir(SCRATCH_ROOT) if n.startswith("graft-")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--pin-digests", help="write the catalog's output digests to this file")
    a = ap.parse_args()
    if a.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources under src/main/scala/graft: run from the root of a checkout")

    cp = build()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", a.workload)
    results = os.path.join(BUILD, "results")
    tmp = os.path.join(BUILD, "tmp", a.workload)
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, name + ".json")
    if os.path.exists(out):
        os.remove(out)

    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap keeps the collector's resizing out of the timings
        f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT_FLAGS[a.workload], "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--out", out]
    if a.pin_digests:
        cmd += ["--pin-digests", os.path.abspath(a.pin_digests)]
    before = program_scratch()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)

    def terminated(signum, frame):
        raise SystemExit(f"run stopped by signal {signum}")
    signal.signal(signal.SIGTERM, terminated)
    code = None
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for p in program_scratch() - before:
            shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"run failed ({'timed out' if code is None else f'exit {code}'})")
    with open(out) as f:
        result = json.load(f)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
