#!/usr/bin/env python3
"""Per-query build/exec profile of a traced perfbench catalog run.

Usage:
    python3 tools/catalog_profile.py <spans.jsonl | run dir> [...]

A run made with `python3 perfbench/run.py --workload catalog --trace 1`
leaves `spans.jsonl` in its run directory under
`.bench_build/perfbench/runs/`. Each timed query execution is a
`catalog.query` span whose trace id is `q:<query>:<pass>`, with an
`entry.build` child (the `SparkEntry.queries(name)` call), an `entry.exec`
child (the noop write) and one `spark.job` span per Spark job it ran. A
job belongs to the phase its midpoint falls in: job times are whole
milliseconds, while phase boundaries are nanosecond exact.

For every query the script prints the median over passes of build ms,
build jobs, exec ms and exec jobs, then the per-pass totals. It then lists
the (query, pass) executions in the slowest quarter by total (build + exec)
time and by build time: the samples perfbench averages into `op_tail_ms`
and `aux_tail_ms`, so a claim on either metric can name the queries that
moved. Given several runs it prints one report per run.
"""
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "spans.jsonl")
    with open(path) as f:
        return path, [json.loads(line) for line in f if line.strip()]


# perfbench's catalog tail metrics average the slowest quarter of the
# timed executions (`Catalog.TailShare`, at least one execution)
TAIL_SHARE = 0.25


def profile(spans):
    """{query: [(pass, build_ms, build_jobs, exec_ms, exec_jobs) per pass]}."""
    by_trace = defaultdict(list)
    for s in spans:
        if s["trace"].startswith("q:"):
            by_trace[s["trace"]].append(s)
    rows = defaultdict(list)
    for trace, ss in by_trace.items():
        _, query, pass_no = trace.rsplit(":", 2)
        build = next((s for s in ss if s["name"] == "entry.build"), None)
        execute = next((s for s in ss if s["name"] == "entry.exec"), None)
        if build is None or execute is None:
            continue  # a query that failed before its write
        jobs = [s for s in ss if s["name"] == "spark.job"]
        build_jobs = sum(1 for j in jobs
                         if (j["start_ns"] + j["end_ns"]) / 2 < build["end_ns"])
        rows[query].append((
            int(pass_no), (build["end_ns"] - build["start_ns"]) / 1e6, build_jobs,
            (execute["end_ns"] - execute["start_ns"]) / 1e6, len(jobs) - build_jobs))
    return rows


def tail(rows, key):
    """The slowest TAIL_SHARE of all executions by `key`, slowest first."""
    execs = [(query,) + r for query, rs in rows.items() for r in rs]
    # half-up, as perfbench's `math.round`
    k = max(1, int(len(execs) * TAIL_SHARE + 0.5)) if execs else 0
    return sorted(execs, key=key, reverse=True)[:k]


def report_tail(title, execs, key):
    counts = defaultdict(int)
    for e in execs:
        counts[e[0]] += 1
    mean = sum(key(e) for e in execs) / len(execs) if execs else 0.0
    print(f"slowest quarter by {title}: {len(execs)} executions, mean {mean:.1f} ms")
    print("  " + ", ".join(f"{q} x{n}" for q, n in
                           sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))))
    for query, pass_no, build_ms, _, exec_ms, _ in execs:
        print(f"  {query:<20} pass {pass_no:<3} build {build_ms:>8.1f} ms"
              f"  total {build_ms + exec_ms:>8.1f} ms")


def report(path, rows):
    passes = max((len(v) for v in rows.values()), default=0)
    print(f"{path}: {len(rows)} queries, {passes} passes (medians over passes)")
    print(f"{'query':<20} {'build_ms':>9} {'build_jobs':>10} {'exec_ms':>9} {'exec_jobs':>9}")
    totals = [0.0, 0, 0.0, 0]
    for query in sorted(rows):
        cols = list(zip(*rows[query]))[1:]
        med = [statistics.median(c) for c in cols]
        print(f"{query:<20} {med[0]:>9.1f} {med[1]:>10g} {med[2]:>9.1f} {med[3]:>9g}")
        for i, c in enumerate(cols):
            totals[i] += sum(c)
    if passes:
        t = [x / passes for x in totals]
        print(f"{'per pass':<20} {t[0]:>9.1f} {t[1]:>10.1f} {t[2]:>9.1f} {t[3]:>9.1f}")
    total = lambda e: e[2] + e[4]
    build = lambda e: e[2]
    report_tail("total time (op_tail_ms)", tail(rows, total), total)
    report_tail("build time (aux_tail_ms)", tail(rows, build), build)
    print()


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    for arg in argv[1:]:
        path, spans = load(arg)
        report(path, profile(spans))


if __name__ == "__main__":
    main(sys.argv)
