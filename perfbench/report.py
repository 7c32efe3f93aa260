#!/usr/bin/env python3
"""Baseline report: repeated runs and traced layer tables.

    python3 perfbench/report.py

makes two sets of ten benchmark runs (`run.py`, untraced, seeds 1..10)
of each workload, the second set after the first has finished for every
workload, and records each end-to-end metric's median and quartiles per
set and how far the sets' medians differ. Then it runs one pass of each
workload three times: untraced at `local[<cores>]` (end-to-end
numbers), traced at `local[<cores>]` and traced at `local[1]`, and
writes the layer table of the workload and of its 20 most expensive
queries, the `local[1]` speed-up and the tracing overhead. Results go to
`perfbench/baseline/baseline.json` and `perfbench/baseline/BASELINE.md`;
spans of the traced runs go to `perfbench/.work/reports/`. The
`local[1]` pass is not oracle-checked.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402
from metrics import fail_frac  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OUT = os.path.join(HERE, "baseline")
SECONDS = 15
SETS = 2
RUNS = 10
TOP = 20
TABLE_COLS = [
    ("queries.build_s", "build s"), ("queries.drain_s", "drain s"),
    ("queries.driver_gap_s", "gap s"), ("spark.jobs", "jobs"),
    ("spark.tasks", "tasks"), ("spark.task_s", "task s"),
    ("spark.parallel_eff", "par eff"), ("operators.job_s", "ops job s"),
    ("streaming.job_s", "stream job s"), ("queries.job_s", "query job s"),
    ("streaming.batches", "batches"), ("fs.files_written", "files"),
    ("driver.self_s.spark", "drv spark s"), ("driver.self_s.operators", "drv ops s"),
]


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    mid = statistics.median(xs)
    return {"median": mid, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / mid if mid else 0.0, "values": xs}


def run_set(workload, n):
    """N runs of the benchmark command itself, seeds 1..N."""
    values, failed, attempted, failing, secs = {}, 0, 0, set(), []
    for seed in range(1, n + 1):
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
            check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
        secs.append(time.time() - t)
        detail, last = json.loads(out[-2]), json.loads(out[-1])
        for k, v in detail["end_to_end"].items():
            values.setdefault(k, []).append(v["value"])
        failed += last["failed"]
        attempted += last["attempted"]
        failing |= set(detail["failing"])
        build.log(f"{workload} seed {seed}: {out[-1]}")
    return {"runs": n, "seconds": SECONDS, "run_s": quartiles(secs),
            "metrics": {k: quartiles(v) for k, v in values.items()},
            "failed": failed, "attempted": attempted, "failing": sorted(failing)}


def layered(workload):
    """Untraced, traced and traced `local[1]` passes (seed 1)."""
    cores = os.cpu_count()
    reports = os.path.join(build.WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    out = {"cores": cores}
    plain = run.run(workload, 1, False, cores)
    e2e, details = analyze.end_to_end(plain)
    failed, attempted, failing = fail_frac(plain["queries"])
    out["untraced"] = {"metrics": e2e, "details": details, "failed": failed,
                       "attempted": attempted, "failing": failing,
                       "query_s": {q["name"]: analyze.query_seconds(q)
                                   for q in plain["queries"]}}
    top = sorted(plain["queries"], key=analyze.query_seconds)[-TOP:]
    top = {q["name"] for q in top}
    # the single-threaded pass is not oracle-checked
    for label, c in (("traced", cores), ("traced_local1", 1)):
        res = run.run(workload, 1, True, c, check=c > 1)
        spans = analyze.span_tree(res)
        with open(os.path.join(reports, f"{workload}-c{c}.spans.json"), "w") as f:
            json.dump(spans, f)
        e2e_t, _ = analyze.end_to_end(res)
        f_t = fail_frac(res["queries"]) if c > 1 else ("not checked", "-", [])
        e2e_t.pop("fail_frac")
        out[label] = {
            "cores": c, "metrics": e2e_t, "layers": analyze.layers(res, spans),
            "failed": f_t[0], "attempted": f_t[1], "failing": f_t[2],
            "query_s": {q["name"]: analyze.query_seconds(q) for q in res["queries"]},
            "query_layers": {q["name"]: analyze.layers(res, spans, {q["qid"]})
                             for q in res["queries"] if q["name"] in top}}
    out["tracing_overhead_s"] = (out["traced"]["metrics"]["wall_s"]
                                 - e2e["wall_s"])
    out["speedup"] = (out["traced_local1"]["metrics"]["wall_s"]
                      / out["traced"]["metrics"]["wall_s"])
    return out


def fmt(v):
    if isinstance(v, float):
        return f"{v:.3g}" if abs(v) < 1000 else f"{v:.0f}"
    return str(v)


def markdown(data):
    lines = ["# Baseline", "",
             "Generated by `python3 perfbench/report.py`; see README.md "
             "for the definitions.", ""]
    for wl, d in data.items():
        lines += [f"## {wl}", ""]
        sets = d.get("sets", [])
        for i, c in enumerate(sets, 1):
            lines += [f"Set {i}: {c['runs']} runs (seeds 1–{c['runs']}), "
                      f"failed {c['failed']}/{c['attempted']} "
                      f"{', '.join(c['failing'])}".rstrip()
                      + f"; a run took {fmt(c['run_s']['median'])} s (median), "
                      f"{fmt(max(c['run_s']['values']))} s (max).", "",
                      "| metric | median | q1 | q3 | IQR/median |",
                      "|---|---|---|---|---|"]
            lines += [f"| {k} | {fmt(m['median'])} | {fmt(m['q1'])} | {fmt(m['q3'])} "
                      f"| {m['spread']:.3f} |" for k, m in c["metrics"].items()]
            lines.append("")
        if len(sets) > 1:
            a, b = sets[0]["metrics"], sets[-1]["metrics"]
            lines += [f"Medians of set 1 and set {len(sets)} (change = "
                      "set 2 ÷ set 1 − 1):", "",
                      "| metric | set 1 | set 2 | change |", "|---|---|---|---|"]
            lines += [f"| {k} | {fmt(a[k]['median'])} | {fmt(b[k]['median'])} | "
                      + (f"{b[k]['median'] / a[k]['median'] - 1:+.3f}"
                         if a[k]["median"] else "—") + " |" for k in a]
            lines.append("")
        f = d.get("layers")
        if not f:
            continue
        u, t, t1 = f["untraced"], f["traced"], f["traced_local1"]
        lines += [
            f"Pass of {u['attempted']} queries (seed 1), "
            f"untraced at local[{f['cores']}]: "
            + ", ".join(f"{k} {fmt(v)}" for k, v in u["metrics"].items())
            + f"; tail percentile {fmt(u['details']['tail_percentile'])} of "
            f"{u['details']['samples']} samples; fail_frac "
            f"{u['failed']}/{u['attempted']} {', '.join(u['failing'])}".rstrip(), "",
            f"Traced wall_s: local[{f['cores']}] {fmt(t['metrics']['wall_s'])}, "
            f"local[1] {fmt(t1['metrics']['wall_s'])}; speed-up "
            f"{fmt(f['speedup'])}; tracing overhead "
            f"{fmt(f['tracing_overhead_s'])} s of {fmt(u['metrics']['wall_s'])} s. "
            f"Traced fail counts: local[{f['cores']}] {t['failed']}/{t['attempted']}, "
            f"local[1] {t1['failed']}.", "",
            "| layer metric | local[%d] | local[1] |" % f["cores"], "|---|---|---|"]
        lines += [f"| {k} | {fmt(v)} | {fmt(t1['layers'][k])} |"
                  for k, v in t["layers"].items()]
        top = sorted(u["query_s"], key=lambda q: -u["query_s"][q])[:TOP]
        lines += ["", f"{TOP} most expensive queries (untraced local[{f['cores']}] "
                  "seconds; layer columns from the traced local[%d] run):" % f["cores"],
                  "",
                  "| query | s | local[1] s | speed-up | "
                  + " | ".join(h for _, h in TABLE_COLS) + " |",
                  "|---" * (4 + len(TABLE_COLS)) + "|"]
        for q in top:
            ql = t["query_layers"].get(q, {})
            one = t1["query_s"].get(q)
            sp = one / t["query_s"][q] if one and t["query_s"].get(q) else 0.0
            lines.append(f"| {q} | {fmt(u['query_s'][q])} | {fmt(one or 0.0)} | "
                         f"{fmt(sp)} | "
                         + " | ".join(fmt(ql.get(k, 0.0)) for k, _ in TABLE_COLS) + " |")
        lines.append("")
    return "\n".join(lines) + "\n"


def main():
    os.makedirs(OUT, exist_ok=True)
    data = {wl: {"sets": []} for wl in WORKLOADS}

    def save():
        with open(os.path.join(OUT, "baseline.json"), "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        with open(os.path.join(OUT, "BASELINE.md"), "w") as f:
            f.write(markdown(data))

    for _ in range(SETS):
        for wl in WORKLOADS:
            data[wl]["sets"].append(run_set(wl, RUNS))
            save()
    for wl in WORKLOADS:
        data[wl]["layers"] = layered(wl)
        save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
