#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <hypercube_bulk|corpus_sf001> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call for a given source tree
builds the engine and the harness with sbt and copies the compiled classes
to .bench_build/build-<hash of the sources>/, so a later call never loads
classes that another build has since overwritten. Every call then starts
one JVM (perfbench.Main) in a fresh working directory under
.bench_build/runs/ and removes it afterwards.
Prints the harness's environment line and, last, its one-line JSON result.
Exits non-zero when the build fails, the run fails or times out, or any
output check fails. A traced run also writes its spans to
.bench_build/traces/.
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

WORKLOADS = ("hypercube_bulk", "corpus_sf001")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def source_files(root):
    """Every input of the build, in a stable order."""
    for top in ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            yield top
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.relpath(os.path.join(d, f), root)


def source_id(root):
    h = hashlib.sha256()
    n = 0
    for rel in source_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
        n += 1
    if not os.path.isdir(os.path.join(root, "src/main")) or n == 0:
        fail("no engine sources (src/main) next to perfbench/; nothing to build")
    return h.hexdigest()[:16]


def freeze(root, classpath, staging, final):
    """Copy the classpath entries that live in the checkout into `staging`
    and return the classpath that reads them from `final`, where `staging`
    is moved once complete. Those entries are the class directories that
    every sbt build in the checkout overwrites; the copies keep a cached
    classpath on the classes it was built from."""
    inside = os.path.realpath(root) + os.sep
    frozen = []
    for i, entry in enumerate(classpath.split(os.pathsep)):
        if os.path.realpath(entry).startswith(inside) and os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(staging, str(i)))
            entry = os.path.join(final, str(i))
        frozen.append(entry)
    return os.pathsep.join(frozen)


def build(root, sid):
    """Compile engine + harness once per source id and freeze the result
    under .bench_build/build-<sid>/; return its classpath."""
    entry = os.path.join(root, BUILD_DIR, f"build-{sid}")
    cache = os.path.join(entry, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            return f.read().strip()
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    log = os.path.join(root, BUILD_DIR, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, env=env, timeout=BUILD_TIMEOUT_S, text=True)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {p.returncode}); log at {log}")
    # A half-written entry never counts as cached: freeze into a temporary
    # directory and rename it into place once complete.
    tmp = entry + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classpath = freeze(root, lines[-1], os.path.join(tmp, "classes"),
                       os.path.join(entry, "classes"))
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(classpath)
    shutil.rmtree(entry, ignore_errors=True)
    os.rename(tmp, entry)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "build.sbt")):
        fail("run from the repository root (perfbench/build.sbt not found)")
    sid = source_id(root)
    classpath = build(root, sid)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(root, BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(root, BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}.json")
    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=str(cores), PERFBENCH_SOURCE_ID=sid,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    # no hsperfdata file in the system temp directory
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace)]
           + (["--trace-out", trace_out] if a.trace else []))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"{a.workload} exited {proc.returncode} without a result line")
    print("\n".join(lines[-2:]))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
