#!/usr/bin/env python3
"""Build (if needed) and run the dedup benchmark from the root of a checkout.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Compiles the repository's sources together with the benchmark (perfbench/
build.sbt) on the first run in a checkout, then starts one JVM running
graft.perfbench.Main and relays its output. The last line of stdout is the
result JSON. Everything the run writes stays under the checkout:
perfbench/target (build), .bench_work (corpora, checkpoints, Spark scratch).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175
HEAP = "3g"

# the module openings Spark needs on JDK 17 outside spark-submit (as in the
# repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(proc, timeout):
    """Wait for `proc`; on timeout or on SIGTERM kill its whole process group
    and wait for it before returning or exiting."""
    def kill():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def on_term(signum, frame):
        kill()
        sys.exit(128 + signum)

    previous = signal.signal(signal.SIGTERM, on_term)
    try:
        return proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        raise
    finally:
        kill()
        signal.signal(signal.SIGTERM, previous)


def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    print("[perfbench] building", flush=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = run_child(proc, BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cps = [l.strip() for l in out.splitlines()
           if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("needs sbt and java on PATH")
    classpath = build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "graft.perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", a.trace, "--work", os.path.join(work, "run")]
    proc = subprocess.Popen(java, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        run_child(proc, RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = 124
        print("perfbench: run timed out", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    sys.exit(code)


if __name__ == "__main__":
    main()
