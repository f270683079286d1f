#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload ingest|serve --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run works in its own
directory under perfbench/.work/ (stores, crawl files, Spark scratch,
java.io.tmpdir) and deletes it when it ends. The last stdout line is the
JSON result; the exit code is non-zero when the build, the run or any
output check fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = os.path.join(HERE, ".build", "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class Interrupted(Exception):
    pass


def log(msg):
    print(f"[run] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(b, f) for b in (ROOT, HERE)
             for f in ("build.sbt", "project/build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("no build.sbt at the repository root: nothing to build")
        return None
    digest = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = fh.read().split("\n")
        if stamp[0] == digest:
            return stamp[1]
    log("building graft and the benchmark with sbt ...")
    t = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.forcestart=false",
             "bench/compile", "export bench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        return None
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = next((l.strip() for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (sbt exit {p.returncode})")
        return None
    log(f"built in {time.time() - t:.1f} s")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


def run_java(cmd, work, env, err_path):
    """Runs the benchmark JVM with a deadline; on a timeout, a signal or
    any error its whole process group is killed and waited for. Returns
    the JSON result line (or None) and the exit code."""
    last, code = None, 1
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        deadline = time.time() + RUN_TIMEOUT_S

        def on_alarm(*_):
            raise TimeoutError

        def on_term(signum, _):
            raise Interrupted(signum)

        signal.signal(signal.SIGALRM, on_alarm)
        signal.signal(signal.SIGTERM, on_term)
        signal.signal(signal.SIGINT, on_term)
        signal.alarm(RUN_TIMEOUT_S)
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line
                else:
                    print(line, flush=True)
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except (TimeoutError, subprocess.TimeoutExpired):
            log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
            code = 3
        except Interrupted as e:
            log(f"stopped by signal {e.args[0]}")
            code = 4
        finally:
            signal.alarm(0)
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or last is None:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return last, code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    if cp is None:
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # deep call sites let the traced run attribute jobs to operator families
        "-Dspark.callstack.depth=200",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_CPUS", None)
    err_path = os.path.join(HERE, ".work", f"stderr-{os.getpid()}.log")
    try:
        last, code = run_java(cmd, work, env, err_path)
    finally:
        if os.path.exists(err_path):
            os.remove(err_path)
        shutil.rmtree(work, ignore_errors=True)
    if last is None:
        log(f"no result line (exit {code})")
        return code or 1
    result = json.loads(last)
    print(json.dumps(result))
    return code if code != 0 else (0 if result.get("correct") else 1)


if __name__ == "__main__":
    sys.exit(main())
