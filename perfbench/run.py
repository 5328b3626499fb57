#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload sparql_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine's sources
together with the benchmark's own (sbt, offline) into .bench_build/, then
records a class-data archive of the classes a run loads (one training JVM,
perfbench.Train), which every run maps to start its JVM faster; later runs
reuse both until a source file changes. Each run gets a fresh
work directory under .bench_build/runs/ (the JVM's java.io.tmpdir, the
Spark warehouse, local and checkpoint directories all live there) and
deletes it afterwards. A run fails if it leaves a graft_* root in the
shared temp directory, if a correctness check fails, or if its metrics do
not match BENCHMARK.json.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones and
writes the spans to .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sparql_read", "store_lifecycle", "llm_dedup")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 480
TRAIN_TIMEOUT_S = 240
ARCHIVE = os.path.join(BUILD, "classes.jsa")

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def spark_home():
    """SPARK_HOME, or the first Spark distribution (bin/ next to jars/) on
    PATH; a pip-installed pyspark launcher does not count."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(os.path.join(d, "spark-submit"))))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    fail("cannot find Spark's jars: set SPARK_HOME")


def java(cp, tmp, main, args, archive):
    """The JVM command of a benchmark or training run; `archive` is the
    -XX option that records or maps the class-data archive."""
    # -XX:-UsePerfData: no hsperfdata files in the shared temp directory
    cmd = ["java", "-XX:-UsePerfData", archive]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Xmx{spec()['heap']}", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, main] + args


def floors():
    return ",".join(f"{k}={v}" for k, v in spec()["floors"].items())


def train(cp):
    """Record the class-data archive: a JVM that loads what runs load."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    cmd = java(cp, os.path.join(work, "tmp"), "perfbench.Train",
               ["--work", work, "--cpus", str(len(os.sched_getaffinity(0))),
                "--floors", floors()],
               f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    try:
        r = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True,
                           timeout=TRAIN_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("class-data training run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(ARCHIVE):
        sys.stderr.write(r.stderr[-3000:] + "\n")
        fail("class-data training run failed")


def build():
    """Compile and record the class-data archive (only when a source
    changed); return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "Graft.scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if all(map(os.path.isfile, (stamp_file, cp_file, ARCHIVE))):
        with open(stamp_file) as fh, open(cp_file) as fc:
            if fh.read() == stamp:
                return fc.read()
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark_home()
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (f"{opts} -XX:-UsePerfData "
                       f"-Djava.io.tmpdir={sbt_tmp}").strip()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        tail = (r.stdout + r.stderr).splitlines()[-40:]
        sys.stderr.write("\n".join(ln[:300] for ln in tail) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    train(cp)
    with open(cp_file, "w") as fc:
        fc.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def spec():
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def listed_metrics(trace):
    """name -> unit of the metrics BENCHMARK.json lists for this mode."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the root of the checkout")
    with open(path) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"]
            for m in b["per_layer" if trace else "end_to_end"]}


def shared_graft_roots():
    dirs = {tempfile.gettempdir(), "/tmp"}
    return {p for d in dirs for p in glob.glob(os.path.join(d, "graft_*"))}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor (default: spec.json)")
    args = ap.parse_args()

    want = listed_metrics(args.trace)
    cp = build()
    sf = args.sf if args.sf is not None else spec()["scale_factor"]
    cpus = len(os.sched_getaffinity(0))

    work = os.path.join(BUILD, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_file = os.path.join(
        traces, f"{args.workload}-seed{args.seed}.jsonl")
    result = os.path.join(work, "result.json")
    before = shared_graft_roots()

    cmd = java(cp, os.path.join(work, "tmp"), "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf", str(sf), "--cpus", str(cpus), "--work", work,
        "--result", result, "--trace-file", trace_file,
        "--floors", floors()], f"-XX:SharedArchiveFile={ARCHIVE}")
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 3)
    out = None
    if code == 0 and os.path.isfile(result):
        with open(result) as fh:
            out = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"benchmark JVM exited with code {code}", 3)
    if args.trace:
        print(f"  trace file {os.path.relpath(trace_file, ROOT)}")

    leaked = shared_graft_roots() - before
    if leaked:
        fail("run left engine roots in the shared temp directory: "
             + ", ".join(sorted(leaked)), 4)
    # the run reports every metric it computes; the result keeps the ones
    # BENCHMARK.json lists, and each of those must be there with its unit
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    wrong = sorted(k for k, u in want.items() if got.get(k) != u)
    if wrong:
        fail(f"run did not report these BENCHMARK.json metrics: {wrong}", 5)
    out["metrics"] = {k: out["metrics"][k] for k in want}

    print(json.dumps({k: out[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
