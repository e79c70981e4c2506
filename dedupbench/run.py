#!/usr/bin/env python3
"""Dedup benchmark: one workload, one seed, one fresh JVM.

    python3 dedupbench/run.py --workload rebuild|search --seed N \\
        --seconds S --trace 0|1

Builds the engine (../src/main) together with the harness (src/main) with
sbt when their sources changed, then runs dedupbench.Main in a JVM pinned to
the settings the timings depend on: cores = the CPUs this process may use,
the heap the repository's test suite runs with, and a fixed Spark scratch
directory under target/.
The JVM's standard output is passed through; its last line is the result
JSON. Spark's log goes to target/logs/. The exit code is the JVM's.

Each build also records a class-data archive from one tiny search run (its
store set-up runs the whole pipeline too). Every measured JVM then maps those
classes instead of loading and verifying them one by one: about 5 s less
set-up per run, the same for every run.
"""
import argparse
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
ARCHIVE = TARGET / "classes.jsa"
# corpus size per workload: the search store is the corpus minus held-back ids
CLIPS = {"rebuild": 3000, "search": 1200}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"dedupbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt (offline), record the class-data archive and return
    the runtime classpath."""
    cp_file = TARGET / "bench-classpath.txt"
    stamp = source_stamp()
    if cp_file.exists():
        lines = cp_file.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    ARCHIVE.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines or "dedupbench" not in lines[-1]:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    cp = lines[-1]
    dump = jvm(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
               ["--workload", "search", "--seed", "0", "--seconds", "0",
                "--clips", "200", "--work", str(TARGET / "work" / "archive")],
               TARGET / "logs" / "archive.log", echo=False)
    if dump != 0:
        print("dedupbench: no class-data archive recorded; running without",
              file=sys.stderr)
        ARCHIVE.unlink(missing_ok=True)
    cp_file.write_text(f"{stamp}\n{cp}\n")
    return cp


def test_heap():
    """Half the machine's memory in whole GiB, clamped to [2, 8] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm(cp, jvm_opts, args, log_path, echo=True):
    """Run dedupbench.Main and return its exit code; kill it after
    JVM_TIMEOUT_S. With `echo` its standard output is passed through."""
    for d in ("tmp", "spark-local", "logs", "work"):
        (TARGET / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=str(TARGET / "spark-local"))
    env.pop("SPARK_GRAFT_AQE", None)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = test_heap()
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", f"-Xms{heap}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={TARGET / 'tmp'}",
        # JVM warnings stay off stdout, whose last line is the result
        "-Xlog:disable", "-Xlog:all=warning:stderr"] + jvm_opts + [
        "-cp", cp, "dedupbench.Main",
        "--cores", str(len(os.sched_getaffinity(0)))] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE if echo else log,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            fail(f"run exceeded {JVM_TIMEOUT_S} s; log: {log_path}", 1)
    if echo:
        sys.stdout.write(out)
        sys.stdout.flush()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CLIPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src' / 'main'}")
    cp = build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log_path = TARGET / "logs" / f"{tag}.log"
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    rc = jvm(cp, share,
             ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--clips", str(CLIPS[a.workload]),
              "--work", str(TARGET / "work" / tag)],
             log_path)
    if rc != 0:
        print(f"dedupbench: exit {rc}; log: {log_path}", file=sys.stderr)
    sys.exit(rc)


if __name__ == "__main__":
    main()
