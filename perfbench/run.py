#!/usr/bin/env python3
"""Run one MitoScape benchmark workload.

    python3 perfbench/run.py --workload sample_bam --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the program and
the benchmark with sbt (offline), then every run:

1. synthesizes the workload's inputs for the seed and trains the model, each
   once per build (``perfbench.Main prepare``, its own JVM);
2. measures in a fresh JVM (``perfbench.Main run``).

Everything is written under ``.bench_build/perfbench`` in the checkout. The
last line of stdout is the JSON result; with ``--trace 1`` the span file
lands in ``.bench_build/perfbench/traces``.
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

WORKLOADS = ("sample_bam", "cohort_samgz")
BUILD_TIMEOUT_S = 840
PREPARE_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# a pinned heap, so unit times do not follow the collector's resizing; the
# resident set is then mostly the heap (see README: peak_rss_mb)
JVM_HEAP = ["-Xms2g", "-Xmx2g"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def build(root, work):
    stamp = source_stamp(root)
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), BUILD_TIMEOUT_S, env=env,
        stdout=subprocess.PIPE)
    if code != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        sys.stderr.write(out)
        fail("build printed no classpath")
    # inputs and model were made by the previous build's code
    for stale in ("inputs", "model-rf128"):
        shutil.rmtree(os.path.join(work, stale), ignore_errors=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/mito", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a source checkout")
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cp = build(root, work)
    log4j = os.path.join(root, "perfbench", "log4j2.properties")
    # no hsperfdata file outside the checkout
    java = ["java", "-XX:-UsePerfData"] + JVM_HEAP + [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log4j}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main"]
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", work]

    t0 = time.time()
    prepared = [os.path.join(work, "inputs", f"{a.workload}-s{a.seed}", "oracle.tsv"),
                os.path.join(work, "model-rf128", "metadata")]
    if not all(os.path.exists(p) for p in prepared):
        code, _ = run_group(java + ["prepare"] + common, root, PREPARE_TIMEOUT_S)
        if code != 0:
            fail(f"prepare failed (exit {code})")
        print(f"perfbench: prepared in {time.time() - t0:.1f} s", file=sys.stderr)
    t0 = time.time()
    code, out = run_group(
        java + ["run"] + common + ["--seconds", str(a.seconds), "--trace", a.trace],
        root, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    print(f"perfbench: ran in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed (exit {code})")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
