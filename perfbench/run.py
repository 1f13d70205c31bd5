#!/usr/bin/env python3
"""graft benchmark: one command for the listen, adhoc and dedup workloads.

    python3 perfbench/run.py --workload listen --seed 0 --seconds 6 --trace 0

Run from the root of a graft checkout. Builds the engine and the
benchmark harness from source into .bench_build/ (first run only),
runs the workload in one JVM, checks its outputs, and prints a report
followed by one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). Exits non-zero when any operation failed or
an output was wrong.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import metrics as M  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "4g"
YOUNG = "1g"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on
    the PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    die("no Spark jars found: set SPARK_HOME")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isfile(os.path.join(engine, "graft", "SparkEntry.scala")):
        die(f"no graft engine sources under {engine}: run from a graft checkout")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, jars):
    """Compiles engine + harness with scalac into a directory keyed by
    the hash of every source file; reuses it when nothing changed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out, 0.0
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        die(f"no scala-compiler jar under {jars}")
    scala_cp = ":".join(compiler + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                        + glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", scala_cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("scalac failed")
    os.remove(argfile)
    os.rename(tmp, out)
    return out, time.time() - t0


def jvm(classes, jars, workdir, kv):
    """Runs the harness JVM; returns its exit code (None on timeout)."""
    # a fixed heap and young generation keep the peak RSS comparable
    # between runs (G1's adaptive sizing alone swings it by a third)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-Xss16m", f"-Djava.io.tmpdir={workdir}/tmp", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Main"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    log = open(os.path.join(workdir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    log.close()
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(M.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    jars = spark_jars()
    classes, build_s = build(root, jars)
    nproc = os.cpu_count() or 1
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    workdir = os.path.join(root, ".bench_build", "work", tag)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    raw_path = os.path.join(workdir, "raw.json")
    kv = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
          "cpus": nproc, "work": workdir, "out": raw_path}
    report, e2e, layers = {}, {}, {}
    rc = None
    try:
        kv.update(M.prepare(a.workload, a.seed, workdir))
        rc = jvm(classes, jars, workdir, kv)
        if os.path.exists(raw_path):
            with open(raw_path) as fh:
                raw = json.load(fh)
            report, e2e, layers = summarize(a, raw, dict(kv, classes=classes), root, tag)
            report["build_s"] = build_s
        else:
            raw = jvm_failure(workdir, rc)
            report["failures"] = raw["failures"]
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    for k, v in report.items():
        print(f"# {k}: {json.dumps(v)}")
    chosen = layers if a.trace else e2e
    failed = int(raw["failed"])
    attempted = max(1, int(raw["attempted"]))
    line = {"correct": failed == 0 and bool(raw["ok"]), "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] and rc == 0 else 1)


def jvm_failure(workdir, rc):
    """The raw result of a JVM that timed out or died before writing one."""
    with open(os.path.join(workdir, "jvm.log")) as fh:
        print(fh.read()[-3000:], file=sys.stderr)
    why = (f"timed out after {JVM_TIMEOUT_S} s" if rc is None
           else f"exited with code {rc} without a result")
    print(f"perfbench: benchmark JVM {why}", file=sys.stderr)
    return {"ok": False, "attempted": 1, "failed": 1,
            "failures": [{"name": "jvm", "error": why}]}


def summarize(a, raw, kv, root, tag):
    """Report and metrics of a raw result; the results file, and in a
    traced run the spans and the tracing overhead."""
    try:
        report, e2e, layers = M.compute(a.workload, raw, kv)
    except Exception as e:
        # a run that failed part-way can leave a result the metrics do
        # not cover: name it as a failure instead of stopping
        traceback.print_exc()
        raw["failed"] = int(raw["failed"]) + 1
        raw["failures"].append({"name": "metrics", "error": repr(e)})
        return {"failures": raw["failures"]}, {}, {}
    results = os.path.join(root, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump({"report": report, "raw": raw}, fh)
    if a.trace:
        M.write_spans(raw, os.path.join(results, f"{tag}.spans.jsonl"))
        report["tracing_overhead"] = M.overhead(results, a.workload, a.seed, e2e)
    return report, e2e, layers


if __name__ == "__main__":
    main()
