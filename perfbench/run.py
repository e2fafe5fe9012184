#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of graft's production KG jobs.

Run from the repository root:

    python3 perfbench/run.py --workload web_rule --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark from the sources of this checkout
(sbt; skipped when the sources have not changed since the last build),
runs one seeded workload in one JVM, checks the output, and prints as its
last line one JSON object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it carries the host context of the run
(load average, CPU steal) and the output digest. Exit code 0 means every
output check held; any failed check exits 1, a missing engine source 2.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("web_rule", "long_inject", "kg_snapshots")
# every run, build included, must end well inside this many seconds
DEADLINE_S = 170
BUILD_DEADLINE_S = 840
HEAP = "3g"
# Spark task threads: half of a 4-vCPU host, so the JVM's own threads and
# the host's other tenants do not compete with the measured tasks for cores
CORES = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to ROOT."""
    roots = ["build.sbt", "project", "src/main",
             "perfbench/build.sbt", "perfbench/project", "perfbench/src/main"]
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            yield r
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.relpath(os.path.join(d, f), ROOT)


def stamp():
    h = hashlib.sha256(ROOT.encode())  # the classpath holds absolute paths
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, deadline, **kw):
    """Runs cmd in its own process group and kills the group at the deadline,
    or when this script is interrupted or terminated. Returns (exit code,
    stdout) or raises TimeoutError."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)

    def stop():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def on_term(*_):
        stop()
        sys.exit(1)

    signal.signal(signal.SIGTERM, on_term)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop()
        raise TimeoutError(" ".join(cmd[:2]))
    except BaseException:
        stop()
        raise
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    return p.returncode, out


def classpath(deadline):
    """The benchmark's runtime classpath, building first when the sources
    changed since the last build."""
    os.makedirs(STATE, exist_ok=True)
    cp_file, stamp_file = os.path.join(STATE, "classpath"), os.path.join(STATE, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(STATE, "build.log")
    with open(log_path, "w") as log:
        code, out = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            deadline, cwd=HERE, stderr=log, env=env)
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("[") or ".jar" not in lines[-1]:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    return [int(x) for x in fields]


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    for need in ("build.sbt", "src/main/scala/graft/pipeline/TripleExtraction.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} is missing)", 2)

    build_deadline = time.monotonic() + BUILD_DEADLINE_S
    try:
        cp = classpath(build_deadline)
    except TimeoutError:
        fail("build timed out")
    deadline = max(deadline, time.monotonic() + 150)

    cores = min(CORES, len(os.sched_getaffinity(0)))
    work = os.path.join(STATE, f"work-{os.getpid()}")
    for old in os.listdir(STATE):
        if old.startswith("work-"):
            shutil.rmtree(os.path.join(STATE, old), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-XX:+AlwaysPreTouch", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           # few background threads: GC and JIT beside `cores` task threads
           f"-XX:ParallelGCThreads={cores}", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores)]

    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # Spark's scratch space stays in the work directory
    load_start, cpu0 = load1(), cpu_times()
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            code, out = run_bounded(cmd, deadline, cwd=work, stderr=log, env=env)
    except TimeoutError:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out")
    cpu1 = cpu_times()
    d = [y - x for x, y in zip(cpu0, cpu1)]
    host = {"host.load_start": load_start, "host.load_end": load1(),
            "host.steal_frac": d[7] / max(1, sum(d))}

    with open(log_path) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the benchmark JVM printed no result (exit {code})")
    shutil.rmtree(work, ignore_errors=True)
    r = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
                      "digest": r["digest"], "walls_s": r["walls_s"], **host}))
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if r["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
