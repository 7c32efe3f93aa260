#!/usr/bin/env python3
"""Per-query structural counters from Spark's event log.

    python3 tools/query_counters.py --fixture <sf dir> [--repo <checkout>]
        [--work <dir>] [--jobs <n>] <query> [<query> ...]

For each named query, runs `graft.Verify` on that query alone, in a fresh
`local[4]` JVM at the given fixture, with Spark's event log on. From the
log it counts the query's Spark jobs, the stages that ran, their tasks,
and the files its writes committed (the `number of written files` SQL
metric), and prints one JSON object keyed by query name:

    {"q160_exact_incremental": {"jobs": 14, "stages": 14, "tasks": 17,
                                "files_written": 35}, ...}

The counts include Verify's own dump of the result (one small write job
per query), so they compare like with like between two checkouts, not
with perfbench's traced counters. `--repo` names the checkout to build
and run (default: the one this script sits in); `--jobs` runs that many
queries side by side (the counters do not depend on it).
"""
import argparse
import concurrent.futures
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark on JDK 17 outside spark-submit needs these (build.sbt's list)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

WRITTEN_FILES = "number of written files"


def classpath(repo):
    """Compiles `repo` and returns its runtime classpath."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=repo, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=900)
    lines = [l for l in proc.stdout.splitlines()
             if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("query_counters: sbt build failed")
    return lines[-1].strip()


def plan_metrics(info, out):
    """accumulator id -> metric name over a SparkPlanInfo tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        plan_metrics(c, out)


def count(log_path):
    jobs = stages = tasks = 0
    names, written = {}, 0
    with open(log_path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs += 1
            elif kind == "SparkListenerStageCompleted":
                stages += 1
            elif kind == "SparkListenerTaskEnd":
                tasks += 1
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan_metrics(e["sparkPlanInfo"], names)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in e["sqlPlanMetrics"]:
                    names[m["accumulatorId"]] = m["name"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                written += sum(v for k, v in e["accumUpdates"]
                               if names.get(k) == WRITTEN_FILES)
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "files_written": written}


def run_one(cp, fixture, work, query):
    qdir = os.path.join(work, query)
    shutil.rmtree(qdir, ignore_errors=True)
    logs, tmp = os.path.join(qdir, "eventlog"), os.path.join(qdir, "tmp")
    os.makedirs(logs)
    os.makedirs(tmp)
    cmd = (["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-Dspark.eventLog.enabled=true",
            f"-Dspark.eventLog.dir=file://{logs}",
            "-Dspark.eventLog.compress=false",
            "-Dspark.eventLog.rolling.enabled=false",
            "-cp", cp, "graft.Verify", fixture, os.path.join(qdir, "out"),
            query])
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    with open(os.path.join(qdir, "verify.log"), "w") as out:
        code = subprocess.run(cmd, cwd=qdir, env=env, stdout=out,
                              stderr=subprocess.STDOUT, timeout=600).returncode
    with open(os.path.join(qdir, "verify.log")) as f:
        failed = "[verify] " in f.read()
    files = glob.glob(os.path.join(logs, "*"))
    if code != 0 or failed or len(files) != 1:
        raise SystemExit(f"query_counters: {query} failed, see {qdir}/verify.log")
    return count(files[0])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--repo", default=ROOT)
    ap.add_argument("--work", default=None)
    ap.add_argument("--jobs", type=int, default=1)
    ap.add_argument("queries", nargs="+")
    a = ap.parse_args()
    work = a.work or tempfile.mkdtemp(prefix="query_counters_")
    os.makedirs(work, exist_ok=True)
    cp = classpath(os.path.abspath(a.repo))
    fixture = os.path.abspath(a.fixture)
    with concurrent.futures.ThreadPoolExecutor(max(1, a.jobs)) as pool:
        got = dict(zip(a.queries, pool.map(
            lambda q: run_one(cp, fixture, work, q), a.queries)))
    print(json.dumps(got, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
