"""Statistics of the benchmark: every figure it reports is computed here
from the harness's raw samples and spans.

Pure functions of plain data, so `test_stats.py` can pin them without Spark.
"""
import statistics

MB = 1048576.0

# Per-job counters the harness's listener sums (PhaseListener.Counters).
JOB_COUNTERS = ("stages", "stages_skipped", "tasks", "tasks_failed",
                "task_s", "task_cpu_s", "gc_s", "sched_wait_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "input_rows", "output_mb", "output_rows")
PHASES = ("construct", "plan", "exec")


def median(xs):
    """The middle value; the mean of the two middle values for an even
    count."""
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, rank, n): the value is the `rank`-th smallest of the
    `n` samples (1-based), so n - rank >= beyond. With too few samples no
    percentile qualifies and the maximum is returned, with rank n.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    rank = n - beyond if n > beyond else n
    return s[rank - 1], rank, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals, counting
    overlaps once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span, children):
    """A span's duration minus the union of its children's intervals,
    clipped to the span. Overlapping children are not counted twice."""
    start, end = span
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def pass_layers(spans, cores):
    """Per-layer figures of one traced pass, from its spans (dicts as
    written by the harness: query, phase and job spans)."""
    phases = [s for s in spans if s["kind"] == "phase"]
    jobs = [s for s in spans if s["kind"] == "job"]
    queries = [s for s in spans if s["kind"] == "query"]
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1000.0
    out = {}
    for p in PHASES:
        mine = [s for s in phases if s["name"] == p]
        my_jobs = [j for j in jobs if j["name"] == p]
        out[p + ".s"] = sum(dur(s) for s in mine)
        out[p + ".jobs"] = float(len(my_jobs))
        by_parent = {}
        for j in my_jobs:
            by_parent.setdefault(j["parent"], []).append(
                (j["start_ms"], j["end_ms"]))
        out[p + ".self_s"] = sum(
            self_time((s["start_ms"], s["end_ms"]),
                      by_parent.get(s["span"], [])) for s in mine) / 1000.0
        for c in JOB_COUNTERS:
            out[p + "." + c] = sum(j.get(c, 0.0) for j in my_jobs)
    c = out["construct.jobs"]
    out["construct.ms_per_job"] = (
        out["construct.s"] * 1000.0 / c if c else 0.0)
    out["exec.utilization"] = (
        out["exec.task_s"] / (out["exec.s"] * cores) if out["exec.s"] else 0.0)
    out["tables.input_rows"] = sum(j.get("input_rows", 0.0) for j in jobs)
    out["sinks.output_mb"] = sum(j.get("output_mb", 0.0) for j in jobs)
    out["sinks.output_rows"] = sum(j.get("output_rows", 0.0) for j in jobs)
    q = sum(dur(s) for s in queries)
    out["trace.phase_coverage"] = (
        sum(dur(s) for s in phases) / q if q else 0.0)
    return out


def layer_metrics(spans, passes, cores):
    """Median over the traced passes of each per-layer figure, plus the
    tracing overhead: median traced pass minus median untraced pass."""
    pass_of = {s["trace"]: s["pass"] for s in spans if s["kind"] == "query"}
    by_pass = {}
    for s in spans:
        by_pass.setdefault(pass_of.get(s["trace"]), []).append(s)
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    if not traced or not untraced:
        raise ValueError("a traced run needs traced and untraced passes")
    per_pass = [pass_layers(by_pass.get(p["pass"], []), cores)
                for p in traced]
    out = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0]}
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                               median([p["wall_s"] for p in untraced]))
    return out


def end_to_end(raw):
    """Figures of the untraced timed passes of one run."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    if not passes:
        raise ValueError("no untraced timed pass")
    lat = [q["wall_s"] for p in passes for q in p["queries"]]
    value, rank, n = tail(lat)
    return {
        "setup_s": raw["setup_s"],
        "pass_s": median([p["wall_s"] for p in passes]),
        "pass_cpu_s": median([p["cpu_s"] for p in passes]),
        "query_p50_s": median(lat),
        "query_tail_s": value,
        "peak_heap_mb": max(p["heap_mb"] for p in passes),
        "jobs_per_pass": median([p["jobs"] for p in passes]),
    }, {"tail_rank": rank, "samples": n}


def check_results(checks, expected):
    """Compare the correctness pass with the expected file. Returns the
    list of (query, message) for every mismatch or exception."""
    bad = []
    for c in checks:
        name = c["name"]
        want = expected.get(name)
        if c["error"] is not None:
            bad.append((name, c["error"]))
        elif want is None:
            bad.append((name, "no expected result"))
        elif (c["rows"], c["fingerprint"]) != (want["rows"],
                                              want["fingerprint"]):
            bad.append((name, "rows %d fingerprint %s, expected rows %d "
                        "fingerprint %s" % (c["rows"], c["fingerprint"],
                                            want["rows"],
                                            want["fingerprint"])))
    return bad
