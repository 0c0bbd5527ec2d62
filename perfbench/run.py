#!/usr/bin/env python3
"""One benchmark run.

    python3 perfbench/run.py --workload catalog|cdc_tail|cdc_catchup \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source on first use (sbt, into .bench_build/perfbench), runs one workload
in one JVM, checks its outputs and prints one JSON object as the last line
of standard output: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics; with --trace 1 they are
the per-layer metrics, the spans are written under the run's work
directory and a "tracing_overhead" line compares the traced run's
end-to-end numbers with the untraced run of the same workload and seed
(or the last untraced run of the workload).

Everything the run reads or writes stays inside the checkout; the only
outside inputs are the toolchain (java, sbt, SPARK_HOME's jars) and, for the
catalog check, Python's duckdb module.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("catalog", "cdc_tail", "cdc_catchup")
RUN_LIMIT_S = 170  # every run must end within 180 s; keep a margin
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def build(src_hash):
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # everything the build needs is local: Spark's jars and the cached
    # Scala toolchain; never reach for a remote repository
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0:
        fail(f"build failed (see {os.path.relpath(log, ROOT)})", 3)
    with open(stamp, "w") as f:
        f.write(src_hash)


def run_jvm(args, work, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution")
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time limit (see {os.path.relpath(work, ROOT)}/jvm.log)", 4)
    if rc != 0:
        fail(f"benchmark JVM exited with {rc} (see {os.path.relpath(work, ROOT)}/jvm.log)", 5)


def catalog_check(work):
    """Each timed query's warm-up output against its DuckDB oracle: columns
    sorted by name, rows sorted, cells compared exactly. Returns the names
    of the queries that do not match."""
    import duckdb
    import pandas as pd
    check = os.path.join(work, "check")
    oracle = json.load(open(os.path.join(check, "oracle_sql.json")))
    tables = json.load(open(os.path.join(check, "tables.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t, path in tables.items():
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
        return df.reset_index(drop=True)

    def cells(s):
        return [None if (not isinstance(v, (list, dict)) and pd.isna(v)) else
                (str(list(v)) if hasattr(v, "__len__") and not isinstance(v, str) else str(v))
                for v in s.astype(object)]

    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(check, name, "*.parquet"))
        try:
            want = con.execute(sql).fetchdf()
            got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
            ok = (got is not None and sorted(got.columns) == sorted(want.columns)
                  and len(got) == len(want))
            if ok:
                g, w = canon(got), canon(want)
                ok = all(cells(g[c]) == cells(w[c]) for c in g.columns)
        except Exception as e:  # an oracle or read error is a failed check
            print(f"perfbench: check {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("program sources not found: run from a checkout of the repository")
    src_hash = source_hash()
    build(src_hash)
    # a build may take most of the first run's allowance; the run itself
    # gets its own limit from here
    deadline = time.time() + RUN_LIMIT_S - 10

    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(args, work, deadline)
    res = json.load(open(os.path.join(work, "result.json")))

    attempted, failed = int(res["attempted"]), int(res["failed"])
    info = res.get("info", {})
    if args.workload == "catalog":
        bad = catalog_check(work)
        failed += len(bad)
        info["check_failed"] = bad
    correct = failed == 0 and info.get("valid", True)
    e2e = res["e2e"]
    e2e["ok_share"] = {"value": (attempted - failed) / attempted, "unit": "share"}

    stamp = dict(res["stamp"], source_sha256=src_hash, git_commit=git_commit(),
                 elapsed_s=round(time.time() - start, 3))
    print(json.dumps({"stamp": stamp, "info": info}))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    same_seed = os.path.join(results, f"{args.workload}-s{args.seed}.json")
    latest = os.path.join(results, f"{args.workload}.json")
    if args.trace == 0:
        for path in (same_seed, latest):
            with open(path, "w") as f:
                json.dump({"stamp": stamp, "e2e": e2e}, f)
        metrics = e2e
    else:
        metrics = res["per_layer"]
        base = same_seed if os.path.exists(same_seed) else latest
        if os.path.exists(base):
            untraced = json.load(open(base))
            print(json.dumps({"tracing_overhead": {
                k: {"traced": v["value"], "untraced": untraced["e2e"][k]["value"],
                    "traced_minus_untraced": v["value"] - untraced["e2e"][k]["value"],
                    "unit": v["unit"]}
                for k, v in e2e.items() if k in untraced["e2e"]},
                "untraced_seed": untraced["stamp"]["seed"]}))
        else:
            print(json.dumps({"tracing_overhead": None,
                              "reason": "no untraced run of this workload yet"}))
    # generated inputs, checkpoints and the archive are bulky (~150 MB for
    # a catch-up run); keep only the run's record
    for entry in os.listdir(work):
        if entry not in ("result.json", "spans.jsonl", "self_times.json", "jvm.log"):
            path = os.path.join(work, entry)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
