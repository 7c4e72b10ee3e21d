#!/usr/bin/env python3
"""Long-document summarization benchmark launcher.

Usage (from the root of a checkout):

    python3 longdoc_bench/run.py --workload ds1_inproc|mixed_http \
        --seed N --seconds S --trace 0|1

Builds the program and the benchmark harness from the checkout's sources
with sbt (once; later runs reuse the build while no source changed), then
runs one workload in its own JVM. Everything it writes stays under
longdoc_bench/ and the sbt target directories of the checkout. The last
line of stdout is the JSON result; the exit code is nonzero when the build
fails, the run fails or an output check fails.
"""
import argparse
import fcntl
import hashlib
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(WORK, "build.stamp")
CLASSPATH = os.path.join(WORK, "classpath.txt")

BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the program's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[longdoc-bench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: program and harness sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return cmd + ["bench/compile", "export bench/Runtime/fullClasspath"]


def build():
    """Compiles program + harness unless the recorded build matches the sources."""
    digest = sources_digest()
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
            with open(STAMP) as f:
                if f.read().strip() == digest:
                    return
        log("building program and benchmark with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        p = subprocess.run(sbt_command(), cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
        lines = p.stdout.splitlines()
        cp = [l for l in lines if os.pathsep in l and l.strip().endswith(".jar")
              and not l.startswith("[")]
        if p.returncode != 0 or not cp:
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            raise SystemExit(f"sbt build failed (exit {p.returncode})")
        with open(CLASSPATH, "w") as f:
            f.write(cp[-1].strip())
        with open(STAMP, "w") as f:
            f.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ds1_inproc", "mixed_http"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources next to the benchmark (expected build.sbt and src/main/scala in {ROOT})")
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    # a fixed heap size, so the collection before each pass (see Bench)
    # does not shrink the heap and change how often the pass collects
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "longdocbench.Bench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", WORK]
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        return 3
    sys.stdout.write(out)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
