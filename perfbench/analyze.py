"""End-to-end and per-layer metrics of one harness run, and its span tree."""
from metrics import (driver_gap, fail_frac, median, sample_module,
                     self_times, site_module, tail, union_length)

E2E_UNITS = {"wall_s": "s", "cpu_s": "s", "query_p50_s": "s",
             "query_tail_s": "s", "fail_frac": "ratio", "setup_s": "s",
             "peak_rss_mb": "MB"}
# the end-to-end metrics with a regression bound (BENCHMARK.json); the
# others are printed alongside (README.md, "End-to-end metrics")
BOUNDED = ["wall_s", "cpu_s", "setup_s", "peak_rss_mb"]

STREAM_PHASES = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
                 "query_planning_s": "queryPlanning", "wal_commit_s": "walCommit",
                 "commit_offsets_s": "commitOffsets",
                 "latest_offset_s": "latestOffset"}

LAYER_UNITS = {
    "queries.build_s": "s", "queries.drain_s": "s", "queries.driver_gap_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.parallel_eff": "ratio",
    "spark.scan_bytes": "bytes", "spark.scan_rows": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.task_wait_s": "s", "spark.plan_s": "s", "spark.gc_s": "s",
    "spark.failed_tasks": "count", "spark.session_start_s": "s",
    "operators.job_s": "s", "streaming.job_s": "s", "queries.job_s": "s",
    "streaming.queries": "count", "streaming.batches": "count",
    "streaming.data_batch_frac": "ratio", "streaming.input_rows": "count",
    **{f"streaming.{k}": "s" for k in STREAM_PHASES},
    "streaming.lifecycle_gap_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "fs.files_written": "count", "fs.bytes_written": "bytes",
    "fs.write_ops": "count", "fs.read_ops": "count", "fs.bytes_read": "bytes",
    **{f"driver.self_s.{m}": "s" for m in
       ("queries", "operators", "streaming", "Tables", "sql", "spark", "fs")},
    **{f"tasks.self_s.{m}": "s" for m in
       ("functions", "operators", "streaming", "spark", "fs")},
    "driver.gc_s": "s", "driver.heap_peak_mb": "MB", "Tables.load_s": "s",
}


def query_seconds(q):
    return (q["end"] - q["start"]) / 1e3


def end_to_end(res):
    """The end-to-end metrics of an untraced run (details alongside)."""
    qs = res["queries"]
    times = [query_seconds(q) for q in qs]
    tval, tpct, n = tail(times)
    failed, attempted, failing = fail_frac(qs)
    values = {
        "wall_s": sum(times),
        "cpu_s": sum(q["cpu_s"] for q in qs),
        "query_p50_s": median(times),
        "query_tail_s": tval,
        "fail_frac": failed / max(1, attempted),
        "setup_s": res["setup"]["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    details = {"samples": n, "tail_percentile": tpct, "failing": failing}
    return values, details


def _owner(spans, t, kinds):
    """Innermost span of one of `kinds` whose interval holds time `t`."""
    best = None
    for s in spans:
        if s["kind"] in kinds and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def span_tree(res):
    """Harness spans plus job, stage, streaming-query and micro-batch
    spans from the listener records, each linked to its parent."""
    spans = [dict(s) for s in res["spans"]]
    next_id = max([s["id"] for s in spans] + [0]) + 1
    timed = [s for s in spans if s["kind"] in ("build", "drain", "check")]
    job_span = {}
    for j in res.get("jobs", []):
        if "end" not in j:
            continue
        parent = _owner(timed, j["start"], ("build", "drain", "check"))
        s = {"id": next_id, "kind": "job", "name": f"job{j['id']}",
             "parent": parent["id"] if parent else 0,
             "qid": parent["qid"] if parent else "",
             "start": float(j["start"]), "end": float(j["end"]),
             "module": site_module(j.get("site"), j.get("execution_site"),
                                   stream_query=j.get("stream_query"))}
        spans.append(s)
        job_span[j["id"]] = s
        next_id += 1
    for st in res.get("stages", []):
        job = job_span.get(st.get("job"))
        if job is None or not st.get("submit"):
            continue
        spans.append({"id": next_id, "kind": "stage", "name": f"stage{st['id']}",
                      "parent": job["id"], "qid": job["qid"],
                      "start": float(st["submit"]), "end": float(st["complete"]),
                      "module": site_module(
                          st.get("site"),
                          stream_query=job["module"] == "streaming")})
        next_id += 1
    runs = {}
    for e in res.get("stream_events", []):
        runs.setdefault(e["run"], []).append(e)
    for run, events in runs.items():
        started = [e for e in events if e["event"] == "started"]
        ended = [e for e in events if e["event"] == "terminated"]
        if not started:
            continue
        t0 = float(started[0]["time"])
        batches = [e for e in events if e["event"] == "progress"]
        t1 = float(ended[0]["time"]) if ended else max(
            [t0] + [b["time"] + b["durations"].get("triggerExecution", 0)
                    for b in batches])
        parent = _owner(timed, t0, ("build", "drain", "check"))
        sq = {"id": next_id, "kind": "stream", "name": f"stream{run[:8]}",
              "parent": parent["id"] if parent else 0,
              "qid": parent["qid"] if parent else "", "start": t0, "end": t1}
        spans.append(sq)
        next_id += 1
        for b in batches:
            start = float(b["time"])
            spans.append({"id": next_id, "kind": "batch",
                          "name": f"batch{b['batch']}", "parent": sq["id"],
                          "qid": sq["qid"], "start": start,
                          "end": start + b["durations"].get("triggerExecution", 0)})
            next_id += 1
    # a micro-batch's jobs belong to it rather than to the build span
    batches = [s for s in spans if s["kind"] == "batch"]
    for s in spans:
        if s["kind"] == "job" and s["module"] == "streaming":
            b = _owner(batches, s["start"], ("batch",))
            if b:
                s["parent"], s["qid"] = b["id"], b["qid"]
    selfs = self_times(spans)
    for s in spans:
        s["self"] = selfs[s["id"]]
    return spans


def layers(res, spans, qids=None):
    """Per-layer metrics summed over the queries in `qids` (default: all)."""
    qs = [q for q in res["queries"] if qids is None or q["qid"] in qids]
    keep = {q["qid"] for q in qs}
    m = {k: 0.0 for k in LAYER_UNITS}
    by_id = {s["id"]: s for s in spans}
    jobs = [s for s in spans if s["kind"] == "job" and s["qid"] in keep
            and _timed_job(s, by_id)]
    job_ids = {int(s["name"][3:]) for s in jobs}
    for q in qs:
        m["queries.build_s"] += (q["build_end"] - q["start"]) / 1e3
        m["queries.drain_s"] += (q["end"] - q["build_end"]) / 1e3
        own = [(s["start"], s["end"]) for s in jobs if s["qid"] == q["qid"]]
        m["queries.driver_gap_s"] += driver_gap(q["start"], q["end"], own) / 1e3
        for k, v in q["io"].items():
            m[f"fs.{k}"] += v
        m["driver.gc_s"] += q["gc_ms"] / 1e3
    busy = union_length([(s["start"], s["end"]) for s in jobs]) / 1e3
    m["spark.jobs"] = len(jobs)
    for s in jobs:
        key = f"{s['module']}.job_s"
        if key in m:
            m[key] += (s["end"] - s["start"]) / 1e3
    for st in res.get("stages", []):
        if st.get("job") not in job_ids or not st.get("submit"):
            continue  # skipped stages never run
        m["spark.stages"] += 1
        m["spark.tasks"] += st.get("tasks", 0)
        m["spark.task_s"] += st.get("task_ms", 0) / 1e3
        m["spark.task_cpu_s"] += st.get("task_cpu_ms", 0) / 1e3
        m["spark.task_wait_s"] += st.get("task_wait_ms", 0) / 1e3
        m["spark.gc_s"] += st.get("gc_ms", 0) / 1e3
        m["spark.failed_tasks"] += st.get("failed_tasks", 0)
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{k}"] += st.get(k, 0)
    cores = res["cores"]
    m["spark.parallel_eff"] = m["spark.task_s"] / (busy * cores) if busy else 0.0
    windows = [(q["start"], q["end"]) for q in qs]

    def in_window(t):
        return any(a <= t <= b for a, b in windows)

    for e in res.get("executions", []):
        if in_window(e["start"]):
            m["spark.plan_s"] += e["plan_ms"] / 1e3
            m["spark.scan_bytes"] += e["scan_bytes"]
            m["spark.scan_rows"] += e["scan_rows"]
            m["fs.files_written"] += e["files_written"]
    streams = [s for s in spans if s["kind"] == "stream" and s["qid"] in keep]
    run_batches = [s for s in spans if s["kind"] == "batch" and s["qid"] in keep]
    m["streaming.queries"] = len(streams)
    m["streaming.batches"] = len(run_batches)
    last_state = {}
    data_batches = 0
    for e in res.get("stream_events", []):
        if e["event"] != "progress" or not in_window(e["time"]):
            continue
        d = e["durations"]
        for k, phase in STREAM_PHASES.items():
            m[f"streaming.{k}"] += d.get(phase, 0) / 1e3
        m["streaming.input_rows"] += e["input_rows"]
        data_batches += e["input_rows"] > 0
        m["streaming.state_commit_s"] += e["state_commit_ms"] / 1e3
        last_state[e["run"]] = (e["state_rows"], e["state_mem_bytes"])
    m["streaming.data_batch_frac"] = (data_batches / len(run_batches)
                                      if run_batches else 0.0)
    m["streaming.state_rows"] = sum(r for r, _ in last_state.values())
    m["streaming.state_mem_bytes"] = sum(b for _, b in last_state.values())
    m["streaming.lifecycle_gap_s"] = (
        sum(s["end"] - s["start"] for s in streams)
        - sum(s["end"] - s["start"] for s in run_batches)) / 1e3
    period = res.get("sample_ms", 0) / 1e3
    for smp in res.get("samples", []):
        if smp["qid"] in keep:
            side = "tasks" if smp["side"] == "task" else "driver"
            key = f"{side}.self_s.{sample_module(smp['frame'])}"
            if key in m:
                m[key] += smp["count"] * period
    if qids is None:
        setup = res["setup"]
        m["spark.session_start_s"] = setup["session_start_s"]
        m["Tables.load_s"] = sum(setup["tables_load_s"].values())
        m["driver.heap_peak_mb"] = res.get("driver_heap_peak_mb", 0.0)
    return m


def _timed_job(job, by_id):
    """True when a job ran inside a query's timed region (build or
    drain), not in the untimed output check."""
    p = by_id.get(job["parent"])
    while p is not None and p["kind"] not in ("build", "drain", "check"):
        p = by_id.get(p["parent"])
    return p is not None and p["kind"] != "check"
