#!/usr/bin/env python3
"""The repository benchmark: three workloads over the graft engine.

    python3 perfbench/run.py --workload serve|pipeline_cold|maintain \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the harness (perfbench/build.sbt:
the engine's sources plus perfbench/src, against $SPARK_HOME/jars) into
.bench_build/ when the sources changed, generates the workload's inputs
from the seed, runs the harness JVM (one local[nproc] session, one client
thread), checks every output against DuckDB, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones (workloads.end_to_end); with
--trace 1 the per-layer ones (layers.LAYERS), from a run that alternates
traced and untraced operations. The line before it is the full report, also
written to .bench_build/results/: the workload's own named metrics with
their sample counts, the environment, and the per-operation layer breakdown
that diff.py compares.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import layers  # noqa: E402
import workloads  # noqa: E402

BUILD = ".bench_build"
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(shutil.which("spark-submit") or "")))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def sources(root):
    files = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, env):
    """Compile engine + harness with sbt and pack the classes into one jar,
    unless the sources are unchanged."""
    if not os.path.isdir(f"{root}/src/main/scala/graft"):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    stamp = f"{root}/{BUILD}/stamp"
    digest = sources(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    for stale in (stamp, f"{root}/{BUILD}/perfbench.jsa"):
        if os.path.exists(stale):
            os.remove(stale)
    benv = dict(env, COURSIER_MODE="offline")
    benv.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=benv, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("harness build failed")
    classes = f"{root}/{BUILD}/sbt/scala-2.13/classes"
    with zipfile.ZipFile(f"{root}/{BUILD}/perfbench.jar", "w") as jar:
        for f in glob.glob(f"{classes}/**/*.class", recursive=True):
            jar.write(f, os.path.relpath(f, classes))
    with open(stamp, "w") as fh:
        fh.write(digest)


# JDK 17 module opens Spark needs outside spark-submit (as in the root build).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(root, env, workload, work, seconds, trace, cores):
    """Run the harness JVM on the plan in `work`; returns its record."""
    cp = f"{root}/{BUILD}/perfbench.jar:{spark_home()}/jars/*"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Class-data sharing: the first run after a build writes the classes it
    # loaded to an archive as its JVM exits, and later runs map that archive,
    # which shortens JVM start-up. The first set-up repetition pays the JVM
    # start; setup_s is the median of three, so it does not see this.
    archive = f"{root}/{BUILD}/perfbench.jsa"
    cds = ([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive)
           else [f"-XX:ArchiveClassesAtExit={archive}.tmp"])
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.hadoop.fs.file.impl=perfbench.CountingFs",
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + cds + ["-cp", cp]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", "--workload", workload, "--plan", f"{work}/plan.json",
              "--out", f"{work}/result.json", "--work", work,
              "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores)])
    jenv = dict(env, SPARK_GRAFT_CPUS=str(cores))
    with open(f"{work}/jvm.log", "w") as log:
        r = subprocess.run(cmd, cwd=root, env=jenv, stdout=log, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        fail(f"harness exited with {r.returncode}")
    if os.path.exists(f"{archive}.tmp"):
        os.replace(f"{archive}.tmp", archive)
    with open(f"{work}/result.json") as fh:
        return json.load(fh)


def cpu_times():
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def loadavg():
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(root, env)
    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(f"{BUILD}/work/{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    w = workloads.WORKLOADS[a.workload]()

    load0, (cpu0, steal0) = loadavg(), cpu_times()
    t0 = time.time()
    plan = w.prepare(work, a.seed)
    inputs_s = time.time() - t0
    with open(f"{work}/plan.json", "w") as fh:
        json.dump(plan, fh)
    t0 = time.time()
    rec = jvm(root, env, a.workload, work, a.seconds, a.trace, cores)
    jvm_s = time.time() - t0
    cpu1, steal1 = cpu_times()
    t0 = time.time()
    checks = w.check(rec)
    oracle_s = time.time() - t0

    ops = rec["ops"]
    failed_ids = checks["failed_ids"]
    failed = sum(1 for o in ops if o["error"] or o["id"] in failed_ids) + checks["failed_extra"]
    attempted = len(ops) + checks["attempted_extra"]
    untraced = [o for o in ops if not o["traced"]]
    timed = w.timed(untraced)
    named = w.named(rec, untraced)
    named["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio", "n": attempted}
    named["setup_raw_s"] = {"value": statistics.median(rec["setup_s"]), "unit": "s",
                            "n": len(rec["setup_s"])}
    named["op_p50_raw_ms"] = workloads.timing([o["ms"] for o in timed])
    named["heap_peak_mb"] = {"value": max(rec["heap_mb"]), "unit": "MB", "n": len(rec["heap_mb"])}
    env_rec = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "loadavg_before": load0, "loadavg_after": loadavg(),
        "cpu_steal_pct": round(100.0 * (steal1 - steal0) / max(1, cpu1 - cpu0), 3),
        "jvm_max_heap_mb": rec["jvm"]["max_heap_mb"], "spark": rec["jvm"]["spark"],
        "jdk": rec["jvm"]["jdk"], "inputs_s": round(inputs_s, 3), "jvm_s": round(jvm_s, 3),
        "jvm_phases_s": rec["phases_s"],
        "oracle_s": round(oracle_s, 3)}
    if a.trace:
        metrics, per_op = layers.summarize(rec)
    else:
        metrics, per_op = workloads.end_to_end(rec, timed), {}
    report = {"env": env_rec, "named": named, "errors": checks["messages"][:20] + sorted(
        {o["error"] for o in ops if o["error"]})[:20], "per_op": per_op,
        "layer_moves": layers.MOVES if a.trace else {}, "metrics": metrics}
    os.makedirs(f"{BUILD}/results", exist_ok=True)
    with open(f"{BUILD}/results/{a.workload}-seed{a.seed}-trace{a.trace}.json", "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"report": report}))
    for m in metrics.values():
        if not (isinstance(m["value"], (int, float)) and math.isfinite(m["value"])):
            fail(f"non-numeric metric {m}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                                  for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
