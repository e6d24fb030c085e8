#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the checkout root):
    python3 perfbench/run.py --workload <query_suite|lake_cdc|rt_stream> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine (with the repository's own build) and the
benchmark (perfbench/build.sbt) into .bench_build/; later runs reuse the
build while the sources are unchanged. The benchmark JVM prints the
workload's named metrics and, as the last line of standard output, one
JSON object: {"correct", "attempted", "failed", "metrics"}. Every file the
run writes stays under .bench_build/ in the checkout.
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

WORKLOADS = ("query_suite", "lake_cdc", "rt_stream")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # plus RUN_TIMEOUT_S, within the first run's 900 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[run.py] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src", "perfbench/src"):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Classpath of the built benchmark, building first if needed."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "classpath.txt")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        # reuse only while the classes the classpath names are still there
        if len(lines) == 2 and lines[0] == digest and all(
                os.path.exists(p) for p in lines[1].split(os.pathsep)):
            return lines[1]
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd="perfbench", stdout=out, stderr=subprocess.STDOUT, env=sbt_env(),
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        tail = f.read().splitlines()
    if p.returncode != 0 or not tail or "perfbench" not in tail[-1]:
        sys.stderr.write("\n".join(tail[-30:]) + "\n")
        fail(f"build failed; see {log}")
    with open(stamp, "w") as f:
        f.write(digest + "\n" + tail[-1].strip() + "\n")
    return tail[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        fail("run from the root of a checkout of the engine (build.sbt, src/ missing)", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required", 2)
    cp = build()
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", run_id))
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp", run_id))
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    # a fixed heap: no run-to-run differences in heap sizing
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        # the JVM's process group: nothing it started may outlive the run
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        for d in (work, tmp):
            shutil.rmtree(d, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"{a.workload} exited with {proc.returncode}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("the benchmark's last line is not a result object")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
