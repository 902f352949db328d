#!/usr/bin/env python3
"""Benchmark command: build the engine with the benchmark harness, run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles `src/main` together
with `perfbench/src/main` (sbt, offline) into `perfbench/target`; later runs reuse
the build while the sources are unchanged. The workload runs in one JVM on
`local[nproc]`; its stdout is relayed, and the last line is the result object.
Scratch files (generated profiles, Spark local dirs) live under `perfbench/.work`
and are removed afterwards; traced runs leave their spans in `perfbench/traces`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("profile_interactive", "query_sweep")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")  # as in the engine build
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def run_workload(cmd, timeout, **kw):
    """Run the benchmark JVM and return its stdout lines up to the result line, or
    None if it ended without one. The JVM is killed once the result line is read:
    its own exit can wait 10 s for busy JIT compiler threads. Always waits for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, text=True, **kw)
    timer = threading.Timer(timeout, os.killpg, (proc.pid, signal.SIGKILL))
    timer.start()
    lines, done = [], False
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if line.startswith('{"correct"'):
                done = True
                break
    finally:
        timer.cancel()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    return lines if done else None


def build():
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    code, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "Compile/copyResources"],
                            BUILD_TIMEOUT_S,
                            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    ap.add_argument("--write-expected", action="store_true",
                    help="query_sweep: record this build's digests as the committed expected values")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; run from a source checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    classes = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    spans = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--data", os.path.join(HERE, "data", "sf0.01"),
              "--expected", os.path.join(HERE, "expected", "query_sweep.json"),
              "--spans", spans, "--write-expected", "1" if a.write_expected else "0"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        lines = run_workload(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if lines is None:
        fail(f"workload ended without a result (failed, or not done within {RUN_TIMEOUT_S} s)")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print("\n".join(l for l in lines[:-1] if l.strip()))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
