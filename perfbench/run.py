#!/usr/bin/env python3
"""Run one benchmark workload against the library sources of this checkout.

    python3 perfbench/run.py --workload <csr_transcript|catalog_sf001>
        --seed <n> --seconds <s> --trace <0|1> [--capture-golden DIR]

Builds the library and the benchmark with sbt when their sources changed
(the classpath is cached under perfbench/target), then runs one JVM with
Spark in local[4] mode. The last stdout line is the result JSON
{"correct", "attempted", "failed", "metrics"}; the exit code is non-zero when
the library sources are missing or the build, the run or an output check
fails.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building library and benchmark with sbt")
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's own output goes to stderr: stdout carries only the result
    rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"[perfbench] build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--capture-golden", metavar="DIR",
                    help="catalog_sf001: rewrite golden/catalog_sf001.tsv from graft.Verify's "
                         "parquet results in DIR (after they matched the DuckDB oracle)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "SparkEntry.scala")):
        sys.exit(f"[perfbench] library sources not found under {os.path.relpath(LIB_SRC, os.getcwd())}")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--home", HERE, "--work", WORK, "--run", run_dir]
    if a.capture_golden:
        cmd += ["--capture-golden", os.path.abspath(a.capture_golden)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if result:
        print(result[-1])
    sys.exit(proc.returncode or (0 if result else 1))


if __name__ == "__main__":
    main()
