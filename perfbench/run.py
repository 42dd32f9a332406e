#!/usr/bin/env python3
"""Layer-split benchmark of the graft query catalog.

    python3 perfbench/run.py --workload poster --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds the program and the harness from
source (see build.py), then runs one JVM: a `local[N]` session with N the
core count, untimed warm-up passes, timed passes of the workload's
queries for `--seconds` (a closed loop with one client thread; the seed
shuffles the query order of each pass), and an untimed correctness pass
checked against `perfbench/expected.json`. The `loops` queries read the
seed-42 `documents` test table at scale factor 0.01 in `perfbench/data`;
the poster queries read the checkout's `fixtures/`.

Each run gets private temp, Spark local and warehouse dirs under
`.bench_build/`; what the program leaves there is counted after the JVM
exits, then removed. The full record (every metric, the tail rank, the
host's core count, load average and CPU steal around each pass) goes to
`.bench_build/out/`. Every metric is printed with its unit; the last line
of stdout is the JSON summary, holding the BENCHMARK.json end-to-end
metrics with `--trace 0` and its per-layer metrics with `--trace 1`.

Wall and CPU times (pass_s, pass_cpu_s, query_p50_s, query_tail_s) are
printed and recorded but are not BENCHMARK.json end-to-end metrics: on a
shared 4-vCPU host, hypervisor steal moved them by up to 2x between runs
of the same code, so they cannot hold a regression bound of 25%. The
gated end-to-end metrics are the ones that repeat: set-up time, retained
heap and Spark jobs per pass.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # The paper's raster dataflow: no table input, execution-bound.
    "poster": ["q46_poster_fullscale", "q45_pip_expr", "q13_kernel"],
    # A driver-paced loop plus a sink round trip: construction-bound.
    "loops": ["q104_pagerank", "q71_partitioned_roundtrip"],
}
JVM_TIMEOUT_S = 170


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def tree_mb(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total / stats.MB


def out_dir(root):
    d = os.path.join(root, ".bench_build", "out")
    os.makedirs(d, exist_ok=True)
    return d


def require(root, rel):
    if not os.path.exists(os.path.join(root, rel)):
        raise SystemExit("perfbench: missing %s; run from the root of a "
                         "checkout" % rel)


def run_harness(root, classpath, args, out, spans, extra=()):
    """Runs the harness JVM in private dirs; returns the MB it left there."""
    run_dir = os.path.join(root, ".bench_build",
                           "run-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData"] + build.jvm_opens() + [
        "-Djava.io.tmpdir=" + dirs["tmp"],
        "-Dperfbench.spark.local.dir=" + dirs["local"],
        "-Dperfbench.spark.sql.warehouse.dir=" + dirs["warehouse"],
        "-Dperfbench.rebase.to=" + os.path.join(root, "fixtures"),
        "-cp", classpath, "perfbench.Harness",
        "--queries", ",".join(WORKLOADS[args.workload]),
        "--seed", str(args.seed), "--seconds", repr(args.seconds),
        "--trace", str(args.trace),
        "--data", os.path.join(HERE, "data"),
        "--out", out, "--spans", spans] + list(extra)
    log = os.path.join(out_dir(root), "%s.log" % args.workload)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness timed out; log in " + log)
    # Counted before any cleanup: what the run's JVM left behind.
    left = sum(tree_mb(d) for d in dirs.values())
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        raise SystemExit("perfbench: harness exited %d; log in %s"
                         % (code, log))
    return left


def main():
    args = parse_args()
    root = os.getcwd()
    for rel in ("BENCHMARK.json", "fixtures", "perfbench/expected.json"):
        require(root, rel)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[args.workload]
    classpath = build.ensure(root)

    stem = os.path.join(out_dir(root), "%s-seed%d-trace%d" % (
        args.workload, args.seed, args.trace))
    raw_path, spans_path = stem + ".raw.json", stem + ".spans.jsonl"
    tmp_mb_left = run_harness(root, classpath, args, raw_path, spans_path)
    with open(raw_path) as fh:
        raw = json.load(fh)
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]

    e2e, tail_info = stats.end_to_end(raw)
    timed = [q for p in raw["passes"] for q in p["queries"]]
    bad = [(q["name"], q["error"]) for q in timed if q["error"]]
    bad += stats.check_results(raw["checks"], expected)
    attempted = len(timed) + len(raw["checks"])
    report = dict(e2e)
    report["failed_ratio"] = len(bad) / attempted
    report["sinks.tmp_mb_left"] = tmp_mb_left
    if args.trace:
        report.update(stats.layer_metrics(spans, raw["passes"],
                                          raw["cores"]))
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": report[m["name"]], "unit": m["unit"]}
               for m in declared}

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "master": raw["master"],
        "queries": WORKLOADS[args.workload],
        "metrics": report, "tail": tail_info,
        "failures": [{"query": q, "message": m} for q, m in bad],
        "passes": [{k: p[k] for k in ("pass", "traced", "wall_s", "cpu_s",
                                      "steal_s", "heap_mb", "jobs",
                                      "loadavg_before", "loadavg_after")}
                   for p in raw["passes"]],
    }
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)

    print("workload %s on %s (nproc %s), %d timed passes, seed %d"
          % (args.workload, raw["master"], os.cpu_count(),
             len(raw["passes"]), args.seed))
    for p in record["passes"]:
        print("  pass %d%s %.3f s, steal %.2f s, loadavg %s -> %s" % (
            p["pass"], " traced" if p["traced"] else "", p["wall_s"],
            p["steal_s"], p["loadavg_before"].split()[0],
            p["loadavg_after"].split()[0]))
    for q, m in bad:
        print("  FAILED %s: %s" % (q, m))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + declared}
    units.update({"pass_s": "s", "pass_cpu_s": "s", "query_p50_s": "s",
                  "query_tail_s": "s", "failed_ratio": "ratio",
                  "sinks.tmp_mb_left": "MB"})
    for name in sorted(units):
        note = ""
        if name == "query_tail_s":
            note = "  (rank %d of %d samples)" % (tail_info["tail_rank"],
                                                  tail_info["samples"])
        elif name == "exec.utilization":
            note = "  (exec.task_s %.3f / (exec.s %.3f x %d cores))" % (
                report["exec.task_s"], report["exec.s"], raw["cores"])
        print("  %-26s %14.4f %s%s" % (name, report[name], units[name], note))
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
