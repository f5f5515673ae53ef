#!/usr/bin/env python3
"""Repository benchmark: build the program and the benchmark from source,
run one workload in a fresh JVM, print its result JSON as the last line.

    python3 perfbench/run.py --workload serve_reads --seed 1 --seconds 10 --trace 0

Run from the repository root. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
RESULTS = os.path.join(ROOT, ".bench_results")
WORKLOADS = ("ingest_api", "serve_reads", "analytics_gates")
JVM_TIMEOUT_S = 170
TRAIN_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala: run from the repository root")
    return program + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def jvm(classpath, *args):
    return (["java", "-Xms4g", "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Xlog:disable", "-Xlog:all=warning:stderr"]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + list(args) + ["-cp", classpath, "perfbench.Main"])


def build(jars):
    """Compile program and benchmark with scalac into one jar under
    .bench_build, once per source tree, then record a class-data-sharing
    archive of a training run so each run's JVM starts without re-loading
    Spark's classes from the jars."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    archive = os.path.join(BUILD, "classes.jsa")
    stamp_file = os.path.join(BUILD, "stamp")
    classpath = os.pathsep.join([jar] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, archive if os.path.exists(archive) else None, stamp
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.pathsep.join(jars)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    # the archive needs the classes in a jar: directories cannot be shared
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for name in sorted(files):
                z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
    shutil.rmtree(classes)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    t0 = time.time()
    run_dir = os.path.join(RUNS, f"train-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        r = subprocess.run(jvm(classpath, "-XX:ArchiveClassesAtExit=" + archive,
                               "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"))
                           + ["--workload", "train", "--seed", "0", "--seconds", "0", "--trace", "0",
                              "--run-dir", run_dir, "--data", data_dir()],
                           cwd=run_dir, env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local")),
                           stdout=sys.stderr, stderr=sys.stderr, timeout=TRAIN_TIMEOUT_S)
        ok = r.returncode == 0 and os.path.exists(archive)
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not ok:
        if os.path.exists(archive):
            os.remove(archive)
        print("perfbench: class-data-sharing training failed; running without the archive", file=sys.stderr)
    print(f"perfbench: trained in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, archive if ok else None, stamp


def commit_id(stamp):
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "sources-sha256:" + stamp


def data_dir():
    d = os.environ.get("PERFBENCH_DATA") or os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        fail(f"sf0.1 testdata not found at {d}: set PERFBENCH_DATA")
    return d


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def overhead(workload, seconds, traced):
    """Traced end-to-end metrics minus the median of recorded untraced runs
    of the same workload and length."""
    base = []
    for path in glob.glob(os.path.join(RESULTS, f"{workload}-*-trace0-*.json")):
        with open(path) as f:
            r = json.load(f)
        if r["seconds"] == seconds:
            base.append(r["end_to_end"])
    if not base:
        return ["tracing overhead: no untraced run of this workload and length on record;"
                " run it with --trace 0 first"]
    lines = [f"tracing overhead (traced minus median of {len(base)} untraced runs):"]
    for name, value in traced.items():
        ref = statistics.median(b[name] for b in base)
        lines.append(f"  {name:<24} {value - ref:+.6f} ({(value - ref) / ref:+.1%})")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--update-golden", action="store_true",
                    help="rewrite perfbench/golden/gates.json from this run")
    args = ap.parse_args()
    # a terminated run still stops its JVM (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jars = spark_jars()
    data = data_dir()
    classpath, archive, stamp = build(jars)
    os.makedirs(RESULTS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    report = os.path.join(run_dir, "report.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = (jvm(classpath, "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
               *(["-XX:SharedArchiveFile=" + archive] if archive else []))
           + ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--run-dir", run_dir, "--data", data,
              "--golden", os.path.join(HERE, "golden", "gates.json"), "--report", report,
              "--commit", commit_id(stamp), "--update-golden", "1" if args.update_golden else "0"])
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s", 1)
        lines = out.rstrip("\n").split("\n")
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(out)
            fail(f"run failed (exit {proc.returncode})", 1)
        result = json.loads(lines[-1])
        want = declared_metrics(args.trace == "1")
        if want is not None and {k: v["unit"] for k, v in result["metrics"].items()} != want:
            fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}", 1)
        kept = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json")
        shutil.copyfile(report, kept)
        body = lines[:-1]
        if args.trace == "1":
            with open(report) as f:
                body += overhead(args.workload, args.seconds, json.load(f)["end_to_end"])
        print("\n".join(body + [f"report: {os.path.relpath(kept, ROOT)}", lines[-1]]), flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.communicate()
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)


if __name__ == "__main__":
    main()
