"""Pure metric arithmetic over the harness' raw records.

Everything here is a function of plain numbers, strings and dicts, so
`perfbench/tests/test_metrics.py` covers it without a JVM.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """Value at the highest percentile that has at least `beyond` samples
    above it (nearest rank).

    Returns `(value, percentile, n)`. With `beyond` or fewer samples no
    percentile qualifies; the largest sample is returned with
    percentile 100 so that the caller can report it as such.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return xs[-1], 100.0, n
    k = n - 1 - beyond
    return xs[k], 100.0 * (k + 1) / n, n


def union_length(intervals):
    """Total length covered by possibly overlapping `(start, end)`."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def driver_gap(start, end, jobs):
    """Query wall minus the union of its Spark job intervals; jobs that
    overlap (`Parallelism.inParallel` sections) count once."""
    return (end - start) - union_length(clip(jobs, start, end))


# graft top-level classes that are SQL front ends
SQL_FRONT_ENDS = {"FlinkSql", "FlinkDdl", "MatchRecognizeSql", "TableApi"}
PACKAGES = {"operators", "streaming", "queries", "functions", "sources",
            "tools"}
FS_PREFIXES = ("org.apache.hadoop.fs.", "java.io.File", "java.io.RandomAccess",
               "java.nio.file.", "sun.nio.fs.", "sun.nio.ch.FileChannel",
               "sun.nio.ch.FileDispatcher", "org.apache.parquet.hadoop.",
               "org.apache.hadoop.util.DiskChecker")


def class_module(cls):
    """Module of a `graft.*` class name, or None for any other class.

    `graft.operators.Dedup$` -> `operators`; `graft.Tables$` -> `Tables`;
    the SQL front ends -> `sql`; the other top-level entry points
    (`SparkEntry`, `QueryDef`, ...) -> `queries`.
    """
    if not cls.startswith("graft."):
        return None
    parts = cls.split(".")
    if len(parts) > 2 and parts[1] in PACKAGES:
        return parts[1]
    top = parts[1].split("$")[0]
    if top == "Tables":
        return "Tables"
    if top in SQL_FRONT_ENDS:
        return "sql"
    return "queries"


def frame_class(frame):
    """Class name of one stack-trace line `pkg.Cls.method(File.scala:1)`."""
    head = frame.strip()
    if head.startswith("at "):
        head = head[3:]
    head = head.split("(")[0]
    return head.rsplit(".", 1)[0] if "." in head else head


def site_module(*sites, stream_query=None):
    """Module a Spark job or stage is charged to: the innermost `graft.*`
    frame of the first of its long call sites (innermost first) that has
    one; a job then falls back to its SQL execution's call site. A call
    made by the benchmark itself (the final `count()`) is charged to
    `queries`; a micro-batch job without an engine frame to `streaming`;
    anything else to `spark`."""
    lines = [l for site in sites for l in (site or "").splitlines()]
    for site in sites:
        for line in (site or "").splitlines():
            mod = class_module(frame_class(line))
            if mod:
                return mod
    if stream_query:
        return "streaming"
    if any(frame_class(l).startswith("perfbench.") for l in lines):
        return "queries"
    return "spark"


def sample_module(cls):
    """Module of a driver stack sample, given its innermost `graft.*`
    class or, without one, its top frame's class."""
    mod = class_module(cls)
    if mod:
        return mod
    if cls.startswith(FS_PREFIXES):
        return "fs"
    return "spark"


def self_times(spans):
    """`{span id: self time}`: each span's duration minus the part of its
    interval that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(clip(kids.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


def fail_frac(records):
    """`(failed, attempted, names)` over query executions: a query fails
    when it threw or its output differs from its oracle (`match` False;
    an unchecked execution has no `match`)."""
    bad = [r["name"] for r in records
           if r.get("error") or r.get("match") is False]
    return len(bad), len(records), sorted(set(bad))
