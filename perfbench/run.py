#!/usr/bin/env python3
"""Build and run the squrvespark benchmark.

    python3 perfbench/run.py --workload ex_eval --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the main sources
(src/main/scala) together with the benchmark's own sources
(perfbench/scala) with the Scala compiler that ships in Spark's jars
directory ($SPARK_HOME/jars, default /opt/spark/jars) into
.bench_build/classes-<source hash>; later runs reuse that build. Each
run gets a fresh temp root under .bench_build/runs (generated tables,
indexes, checkpoints, Spark local dirs) that is removed at exit. The
last line on stdout is the JSON result.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
WORKLOADS = ("ex_eval", "serve", "corpus")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for root in (os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")):
        if not os.path.isdir(root):
            fail(f"missing source directory {os.path.relpath(root, REPO)}")
        for d, _, fs in os.walk(root):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build():
    """Compile once per source hash; concurrent runs wait on a lock."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, ".ok")):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            jars = spark_jars()
            t0 = time.time()
            r = subprocess.run(
                ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                 "-classpath", jars, "-d", tmp] + srcs,
                stdout=sys.stderr, stderr=sys.stderr)
            if r.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                fail("compilation failed")
            open(os.path.join(tmp, ".ok"), "w").close()
            shutil.rmtree(out, ignore_errors=True)
            os.rename(tmp, out)
            for old in os.listdir(BUILD):  # builds of other sources
                if old.startswith("classes-") and os.path.join(BUILD, old) != out:
                    shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
            print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s",
                  file=sys.stderr)
    return out


def java_cmd(classes, root, main, args):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Dspark.sql.warehouse.dir={root}/warehouse",
             f"-Dderby.system.home={root}"]
            + opens + ["-cp", f"{classes}{os.pathsep}{spark_jars()}", main] + args)


def run_jvm(cmd, root):
    """Run the JVM in its own process group; kill the group on timeout
    or when this script is told to stop."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "tmp"))
    p = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)

    def stop(signum, _frame):
        raise KeyboardInterrupt(f"signal {signum}")

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run timed out", file=sys.stderr)
        return 124
    except KeyboardInterrupt:
        print("perfbench: stopped", file=sys.stderr)
        return 130
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    classes = build()
    root = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(root)
    try:
        if a.selftest:
            code = run_jvm(java_cmd(classes, root, "perfbench.SelfTest", []), root)
        else:
            code = run_jvm(java_cmd(classes, root, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", root]), root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
