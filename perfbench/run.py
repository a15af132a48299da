#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <batch_suite|cdc_tail|cdc_backfill>
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the benchmark from
source with sbt (the benchmark's own build in this directory depends on
the repository's root build); later runs reuse that build until a source
file changes. Each run gets fresh Spark local, warehouse, checkpoint and
IndexStore directories under perfbench/.work/, removed when it ends.
With --trace 1 the run's spans are kept in perfbench/.out/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("batch_suite", "cdc_tail", "cdc_backfill")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        cp_file = os.path.join(BUILD, "classpath.txt")
        stamp_file = os.path.join(BUILD, "stamp.txt")
        if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
                and open(stamp_file).read() == stamp):
            return open(cp_file).read().strip()
        log("building the program and the benchmark with sbt")
        t0 = time.time()
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
        lines = [l for l in out.stdout.splitlines() if l.strip()]
        if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write(out.stdout[-8000:])
            raise SystemExit("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f} s")
        return cp


def java_cmd(cp, main, args, work, heap="2g"):
    # a fixed-size heap, touched at start: peak RSS is then the heap plus
    # what the run holds outside it, not how much of the heap the
    # collector happened to use before the run ended
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
           "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + args


def run_java(cmd, work, timeout):
    """Run the JVM in its own process group; return (code, stdout lines)."""
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env.pop("SPARK_GRAFT_ONLY", None)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    lines = []
    try:
        deadline = time.time() + timeout
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout} s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1, lines
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("the program's sources are not next to the benchmark; nothing to run")
        return 2
    cp = build()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = java_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--bench-dir", BENCH, "--work-dir", work, "--cpus", str(cpus())],
            work)
        code, lines = run_java(cmd, work, RUN_TIMEOUT_S)
        for l in lines[:-1]:
            print(l)
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                print(lines[-1])
        if code != 0 or not isinstance(result, dict):
            log(f"run failed (exit {code})")
            return 1
        if a.trace:
            out = os.path.join(BENCH, ".out")
            os.makedirs(out, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(
                    out, f"spans-{a.workload}-{a.seed}.jsonl"))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
