#!/usr/bin/env python3
"""Pipeline benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt, output under .bench_build/ and target/); later runs
reuse the build while the sources are unchanged. Each run forks one JVM
with its own java.io.tmpdir and Spark scratch directory under
.bench_build/, relays the JVM's result object as the last line of stdout,
and exits non-zero if the build fails, the run fails or an output check
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

WORKLOADS = ("medallion_batch", "stream_dedup")
BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 840
# A run spends about 50 s outside its timed loop (JVM start, three set-ups,
# two warm-up operations, calibration, checks) plus up to one operation
# past --seconds.
RUN_OVERHEAD_S = 160
# Spark on JDK 17 needs these when started outside spark-submit (the same
# list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Inputs of the build: a change to any of them triggers a rebuild.
SOURCE_ROOTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for root in SOURCE_ROOTS:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine + benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    try:
        code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd="perfbench",
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True)
    except subprocess.TimeoutExpired:
        sys.exit("[perfbench] build timed out")
    if code != 0:
        sys.stderr.write(out[-8000:])
        sys.exit(f"[perfbench] build failed (sbt exit {code})")
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not lines:
        sys.stderr.write(out[-4000:])
        sys.exit("[perfbench] sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def check_metrics(result, trace):
    """The run must print exactly the metrics BENCHMARK.json declares for
    its mode, with the declared units."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    got = {n: m["unit"] for n, m in json.loads(result)["metrics"].items()}
    if got != want:
        sys.exit("[perfbench] printed metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"undeclared {sorted(set(got) - set(want))}, "
                 f"unit mismatches {sorted(n for n in want if n in got and got[n] != want[n])}")


def temp_entries(path):
    try:
        return len(os.listdir(path))
    except OSError:
        return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    missing = [p for p in SOURCE_ROOTS if not os.path.exists(p)]
    if missing:
        sys.exit("[perfbench] run from the root of a checkout; missing: "
                 + ", ".join(missing))
    os.makedirs(BUILD_DIR, exist_ok=True)
    cp = build()

    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{a.workload}-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    sys_tmp = tempfile.gettempdir()
    before = temp_entries(sys_tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    # Spark prefers these variables to spark.local.dir; the run's scratch
    # must stay in its own directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        code, out = run_bounded(cmd, a.seconds + RUN_OVERHEAD_S, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True, env=env)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[perfbench] run exceeded {a.seconds + RUN_OVERHEAD_S} s")
    finally:
        after = temp_entries(sys_tmp)
        log(f"entries in {sys_tmp}: {before} before, {after} after")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in lines if result is None else lines[:-1]:
        log(l)
    if result is None:
        sys.exit(f"[perfbench] the run printed no result (exit {code})")
    check_metrics(result, a.trace)
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
