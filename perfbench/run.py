#!/usr/bin/env python3
"""End-to-end benchmark of the graft pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (`src/main/scala`) and the benchmark program
(`perfbench/src`) with the Scala compiler shipped in Spark's jars, then runs
one workload in one JVM with Spark at `local[nproc]`. Build output, work
files and logs go under `.bench_build/` in the repository root. The last
line of stdout is the result: `{"correct", "attempted", "failed", "metrics"}`.
The line before it carries host context (nproc, calibration, sizes, seed,
reference targets). See perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
# the sf0.001 test tables, shipped with the benchmark for query_canary
SF_DIR = os.path.join(HERE, "data", "sf0.001")
# BENCHMARK.json lists all but stream_ingest, which runs by hand (NOTES.md)
WORKLOADS = ["pipeline_batch", "positioning", "query_canary", "stream_ingest"]
JAVA_TIMEOUT_S = 165
# stream_ingest is not held to a run's 180 s
HAND_TIMEOUT_S = 900
# BASELINE.md: the reference system's published targets
REFERENCE = {
    "pipeline_batch": "ingest target 75 msg/s (rows_per_s)",
    "positioning": "100-500 ms per positioning request (op_p50_ms, op_p90_ms)",
    "stream_ingest": "delivery within 60 s (op_p50_ms, op_p90_ms)",
    "query_canary": "none; Bench's canary_s is this repo's own regression figure",
}
# the JVM options build.sbt gives forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark install named by $SPARK_HOME, else the
    unmanagedBase directory that build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.exists(sbt):
            fail(f"{sbt} not found and SPARK_HOME not set")
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("no unmanagedBase in build.sbt and SPARK_HOME not set")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"Spark's jars not found at {jars}")
    return jars


def scala_sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_scala(jars, classpath, sources, dest, log):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd.append("@" + argfile)
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"compile failed, see {log}")


def jar_dir(src, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(src):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, src))


def java_cmd(jars, classpath, extra):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write its counters under the
    # system temp directory, outside the checkout
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + extra + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
             "graft.perfbench.Main"])


def build(jars):
    """Compile engine and benchmark into jars, once per source tree: a
    digest of every source file is kept beside the jars, and a later run
    with the same digest reuses them."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        fail(f"engine sources not found at {engine_src}")
    engine = scala_sources(engine_src)
    bench = scala_sources(os.path.join(HERE, "src"))
    if not engine or not bench:
        fail("no Scala sources to build")
    h = hashlib.sha256()
    for p in engine + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "build.stamp")
    classpath = [os.path.join(OUT, "bench.jar"), os.path.join(OUT, "engine.jar")]
    if (os.path.exists(stamp) and open(stamp).read() == digest and
            all(os.path.exists(p) for p in classpath)):
        return classpath
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(OUT, "build.log")
    open(log, "w").close()
    engine_out = os.path.join(OUT, "engine-classes")
    bench_out = os.path.join(OUT, "bench-classes")
    compile_scala(jars, None, engine, engine_out, log)
    compile_scala(jars, engine_out + os.pathsep + os.path.join(jars, "*"),
                  bench, bench_out, log)
    jar_dir(engine_out, classpath[1])
    jar_dir(bench_out, classpath[0])
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


def compare_oracle(sf_dir, dumps):
    """tools/compare_oracle.py on the dumped results; one note per FAIL."""
    tool = os.path.join(ROOT, "tools", "compare_oracle.py")
    if not os.path.exists(tool):
        fail(f"{tool} not found")
    r = subprocess.run([sys.executable, tool, sf_dir, dumps], capture_output=True,
                       text=True, timeout=120)
    bad = [l for l in r.stdout.splitlines() if l.startswith("FAIL")]
    if r.returncode != 0 and not bad:
        fail(f"compare_oracle.py exited {r.returncode}: {r.stderr[-500:]}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=SF_DIR, help="sf tables for query_canary")
    a = ap.parse_args()
    sf_dir = os.path.abspath(a.sf_dir)
    if a.workload == "query_canary" and not os.path.isdir(sf_dir):
        fail(f"sf tables not found at {sf_dir}")

    jars = spark_jars()
    classpath = build(jars)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(logs, run_id + ".log")
    cmd = java_cmd(jars, classpath, ["-Djava.io.tmpdir=" + work]) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--launch-ms", str(int(time.time() * 1000))]
    if a.workload == "query_canary":
        cmd += ["--sf-dir", sf_dir]
    timeout = HAND_TIMEOUT_S if a.workload == "stream_ingest" else JAVA_TIMEOUT_S
    try:
        with open(log, "w") as lf:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=lf,
                               text=True, timeout=timeout, cwd=ROOT)
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        if r.returncode != 0 or len(lines) < 2:
            fail(f"benchmark JVM exited {r.returncode}, see {log}")
        info = json.loads(lines[-2])["info"]
        result = json.loads(lines[-1])
        if a.workload == "query_canary":
            bad = compare_oracle(sf_dir, os.path.join(work, "canary"))
            info["check_notes"] += bad
            result["failed"] += len(bad)
            result["correct"] = result["failed"] == 0
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {timeout} s, see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info["reference"] = REFERENCE[a.workload]
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
