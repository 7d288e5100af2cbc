#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the library and the harness with sbt
(the harness is its own sbt build in this directory, depending on the
repository's build). Every JVM then runs the harness (perfbench.Main) in
a fresh run directory under .perfbench/, which is deleted afterwards: the
FrameCache root, checkpoint dirs, Spark local dirs, the warehouse, Derby's
home and log, and the temp dir all live there. An untraced run starts
SETUP_JVMS JVM(s) that only set up, then the measured one; setup_s is the
median of their set-up times, each from JVM launch. Traced runs leave
their span file in .perfbench/out/.

Every workload runs a fixed amount of work; --seconds is accepted for the
command-line contract and does not change it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
SETUP_JVMS = 1

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the list the repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def classpath():
    """Build once per source digest; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: the library sources are missing")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    build = os.path.join(WORK, "build")
    cp_file = os.path.join(build, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    log = os.path.join(build, "sbt.log")
    try:
        with open(log, "w") as lf:
            code, out, _ = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=lf, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out; see {log}")
    with open(log, "a") as lf:
        lf.write(out)
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and ".jar" in l]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def harness(cp, a, setup_only, timeout):
    """Run one harness JVM in a fresh run directory; returns its stdout lines."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "index", "ckpt", "local", "derby"):
        os.makedirs(os.path.join(run_dir, sub))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # -XX:+AlwaysPreTouch: the heap's page faults land in the set-up, not in
    # the timed phase; -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}/derby",
            f"-Dderby.stream.error.file={run_dir}/derby/derby.log",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--run-dir", run_dir, "--bench-dir", BENCH,
            "--out-dir", os.path.abspath(a.out_dir), "--queries", a.queries,
            "--setup-only", "1" if setup_only else "0"]
    env = dict(os.environ)
    cores = str(os.cpu_count() or 1)
    env.update({
        "SPARK_GRAFT_INDEX_DIR": f"{run_dir}/index",
        "SPARK_GRAFT_CKPT_DIR": f"{run_dir}/ckpt",
        "SPARK_LOCAL_DIRS": f"{run_dir}/local",
        "SPARK_GRAFT_CPUS": cores,
    })
    kind = "setup" if setup_only else f"trace{a.trace}"
    log = os.path.join(WORK, "logs", f"{a.workload}-seed{a.seed}-{kind}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    if timeout <= 0:
        fail(f"no time left for the run; see {WORK}/logs")
    try:
        with open(log, "w") as lf:
            # the harness measures its set-up from this instant
            cmd += ["--launched-us", str(time.time_ns() // 1000)]
            code, out, _ = run_bounded(cmd, timeout, cwd=run_dir, env=env,
                                       stdin=subprocess.DEVNULL,
                                       stdout=subprocess.PIPE, stderr=lf, text=True)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded its time; see {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        fail(f"harness exited {code}; see {log}")
    return lines


def last_json(lines):
    try:
        return json.loads(lines[-1])
    except ValueError:
        fail("last harness line is not JSON; see .perfbench/logs/")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out-dir", default=os.path.join(WORK, "out"),
                    help="where traced runs write their span file")
    ap.add_argument("--queries", default=os.path.join(BENCH, "queries.txt"),
                    help="query_suite's query list: a file, or 'all'")
    ap.add_argument("--timeout", type=int, default=RUN_TIMEOUT_S,
                    help="seconds the JVMs of the run may take together")
    a = ap.parse_args()
    if a.queries != "all":
        a.queries = os.path.abspath(a.queries)

    cp = classpath()
    deadline = time.monotonic() + a.timeout
    setups = []
    if not a.trace:
        for _ in range(SETUP_JVMS):
            setups.append(last_json(harness(cp, a, True, deadline - time.monotonic()))["setup_s"])
    lines = harness(cp, a, False, deadline - time.monotonic())
    result = last_json(lines)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result line has the wrong keys")
    if not a.trace:
        setups.append(result["metrics"]["setup_s"]["value"])
        result["metrics"]["setup_s"]["value"] = statistics.median(setups)
        print("perfbench setup " + json.dumps({"setup_s_reps": setups}))
    for l in lines:
        if l.startswith("perfbench detail "):
            print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
