#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

builds the engine and the harness from this checkout (cached by source
hash), provides the workload's fixture, runs one cold pass of the
workload's queries in a seed-permuted order in a fresh JVM at
`local[<cores>]`, checks every output against its DuckDB oracle, and
prints one JSON line: the end-to-end metrics (`--trace 0`) or the
per-layer metrics of a traced run (`--trace 1`). A run is always one
pass; `--seconds` does not change it. README.md defines the workloads
and every metric. A traced run writes its span tree to
`perfbench/.work/spans/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

# a run must end within 180 s; the JVM gets this much of it
RUN_DEADLINE_S = 165


def harness(cp, conf, run_dir, heap, trace):
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = dict(conf, out=run_dir)
    conf_path = os.path.join(run_dir, "harness.conf")
    with open(conf_path, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = subprocess.Popen(build.java_cmd(cp, conf_path, heap, tmp, trace),
                                cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness exceeded its deadline")
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(result) as f:
        return json.load(f)


def oracle_sql(cp, stamp, names):
    """`{query: oracle SQL}` from `SparkEntry.oracleSql`, cached per build
    (`stamp`, the digest of the sources the classpath was built from)."""
    path = os.path.join(build.WORK, "build", "oracle_sql.json")
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
        if known.get("stamp") == stamp and set(names) <= set(known["asked"]):
            return known["oracles"]
    res = harness(cp, {"mode": "oracles", "queries": ",".join(names)},
                  os.path.join(build.WORK, "oracles-run"), "1g", False)
    if res["unknown"]:
        raise SystemExit(f"perfbench: unknown queries {res['unknown']}")
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "asked": names, "oracles": res["oracles"]}, f)
    return res["oracles"]


def prepare(cp, stamp):
    """Fixtures and expected oracle results of every workload's queries,
    so that only the first run of a checkout pays for them."""
    import oracle
    names = sorted({q for w in WORKLOADS.values() for q in w["queries"]})
    sqls = oracle_sql(cp, stamp, names)
    checkers = {}
    for wl in WORKLOADS.values():
        fx = build.fixture(wl["sf"])
        ch = checkers.setdefault(wl["sf"], oracle.Oracles(
            fx, os.path.join(build.WORK, "oracle", wl["sf"])))
        for q in wl["queries"]:
            if q in sqls and not ch.cached(q, sqls[q]):
                t = time.time()
                ch.expected(q, sqls[q])
                build.log(f"oracle {wl['sf']} {q}: {time.time() - t:.1f} s")
    return sqls, checkers


def check_outputs(res, sqls, checker):
    """Marks each timed query execution `match` or records why not."""
    import oracle
    for q in res["queries"]:
        q["match"] = False
        if q["error"] or q["check_error"]:
            q["why"] = q["error"] or q["check_error"]
        elif q["name"] not in sqls:
            q["why"] = "no oracle SQL"
        else:
            got = oracle.read_output(checker.con, q["output"])
            q["why"] = oracle.compare(got, checker.expected(q["name"], sqls[q["name"]]))
            q["match"] = q["why"] is None


def run(workload, seed, trace, cores=None, check=True):
    """One run; returns the harness result with per-query check results
    (`check=False` skips the oracle check)."""
    build.check_checkout()
    wl = WORKLOADS[workload]
    cp, stamp = build.classpath()
    sqls, checkers = prepare(cp, stamp)
    cores = cores or os.cpu_count()
    run_dir = os.path.join(build.WORK, "runs",
                           f"{workload}-s{seed}-t{trace}-c{cores}-{os.getpid()}")
    conf = {"mode": "run", "workload": workload, "fixture": build.fixture(wl["sf"]),
            "cores": cores, "trace": int(trace), "check": int(check),
            "queries": ",".join(pass_order(wl["queries"], seed))}
    heap = "6g" if wl["sf"] == "sf1" else "4g"
    try:
        t0 = time.time()
        res = harness(cp, conf, run_dir, heap, trace)
        t1 = time.time()
        if check:
            check_outputs(res, sqls, checkers[wl["sf"]])
        build.log(f"harness {t1 - t0:.1f} s, oracle check {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["workload"], res["seed"] = workload, seed
    return res


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15,
                    help="accepted for the benchmark contract; a run is one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    import analyze
    from metrics import fail_frac
    res = run(a.workload, a.seed, a.trace)
    failed, attempted, _ = fail_frac(res["queries"])
    e2e, details = analyze.end_to_end(res)
    if a.trace:
        spans = analyze.span_tree(res)
        values = analyze.layers(res, spans)
        units = analyze.LAYER_UNITS
        spans_dir = os.path.join(build.WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(spans, f)
    else:
        units = analyze.E2E_UNITS
        print(json.dumps({"end_to_end": {k: {"value": v, "unit": units[k]}
                                         for k, v in e2e.items()}, **details}))
        values = {k: e2e[k] for k in analyze.BOUNDED}
    for q in res["queries"]:
        if not q["match"]:
            build.log(f"FAIL {q['qid']}: {q['why']}")
    build.log(json.dumps(details))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
