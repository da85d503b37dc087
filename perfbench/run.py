#!/usr/bin/env python3
"""End-to-end benchmark of the graft query library.

    python3 perfbench/run.py --workload etl_core --seed 1 --seconds 12 --trace 0
        [--input DIR] [--queries q23,...]

Run from the root of the repository. The first run builds, with sbt,
the JVM harness (`perfbench/scala`), a package of its own
(`perfbench/build.sbt`) that depends on the library in the root, and
keeps the classpath under `.bench_build/`; later runs reuse it while the
sources are unchanged and the classes are still there.

A run starts one JVM with `local[<cores>]` and the session settings of
`graft.Bench`, sets up (session start plus the first touch of the
workload's tables; the cold set-up is `setup_s`), then drives one workload's `SparkEntry.queries` in a
closed loop with a single client: a cold pass in the listed query order
(the order a pipeline submit runs its steps in), then warm passes, each
in an order drawn from the seed. After its timed run in the first warm
pass, each query's result is written once and then compared with its
`SparkEntry.oracleSql` run in DuckDB over the same input. The input
tables are fixed; the seed only orders queries.

`--trace 0` prints the end-to-end metrics; `--trace 1` adds one warm
pass, attaches Spark listeners on the even-numbered warm passes, and
prints the per-layer metrics, a per-query table and the tracing
overhead. The last line of the output is
one JSON object: `correct`, `attempted`, `failed` and `metrics`.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import stats

# Per workload: its queries, the tables they read (touched during
# set-up), the nominal warm-pass time that turns --seconds into a fixed
# number of warm passes (so every run of a workload has the same sample
# count), and the scale of its default input. An odd number of queries
# keeps the median latency inside one query's samples instead of between
# two queries of different cost.
WORKLOADS = {
    # the reference's own batch operators (concat, map_col, grouped
    # apply, window specs, within-year fills): scan- and task-bound, no
    # checkpoints, no streams. q23 (within-year impute) is left out: at
    # sf0.1 it disagrees with its oracle on every run, and a workload
    # must hold only queries that succeed. `--queries q23` shows it.
    "etl_core": {"queries": ["q04", "q05", "q06", "q10", "q12"],
                 "tables": ["lineitem", "nation", "orders", "events"],
                 "pass_s": 3.2, "scale": "sf0.1"},
    # StreamGate replays (windowed aggregation, dedup and a stream-stream
    # interval join, all stateful): source file writes, micro-batches,
    # state store and checkpoint commits, and eager jobs and checkpoints
    # in the query function, whose cost is mostly per batch, not per row
    "stream_replay": {"queries": ["q42", "q43", "q58"], "tables": ["events"],
                      "pass_s": 6.8, "scale": "sf0.01"},
}

TABLES = ["lineitem", "orders", "customer", "supplier", "part", "nation",
          "region", "events", "documents", "embeddings"]

BENCH = "perfbench"  # this directory, relative to the repository root
SETUPS = 3
JVM_TIMEOUT_S = 160

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def default_input(workload):
    return os.path.expanduser(f"~/testdata/{WORKLOADS[workload]['scale']}")


def source_stamp(root):
    files = [os.path.join(root, "build.sbt"), os.path.join(root, BENCH, "build.sbt")]
    for base in ("project", os.path.join(BENCH, "project")):
        files += sorted(glob.glob(os.path.join(root, base, "*.properties")))
        files += sorted(glob.glob(os.path.join(root, base, "*.sbt")))
    for base in ("src/main", os.path.join(BENCH, "scala")):
        files += sorted(glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def has_classes(classpath):
    """Whether the classpath still holds the library's and the
    harness's classes: a `clean` of either build removes them while the
    sources, and so the stamp, stay the same."""
    dirs = [p for p in classpath.split(os.pathsep) if os.path.isdir(p)]
    return all(any(os.path.isfile(os.path.join(d, c)) for d in dirs)
               for c in ("graft/SparkEntry.class", "perfbench/Harness.class"))


def build(root, work):
    """Builds the library and the harness package (`perfbench/build.sbt`,
    which depends on the library in the root); returns the classpath."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(work, "stamp")
    cp_file = os.path.join(work, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                cp = g.read()
                if has_classes(cp):
                    return cp
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             "compile", "export Runtime / fullClasspath"],
                            cwd=os.path.join(root, BENCH), stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    cp = lines[-1].strip()  # what `export` prints
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)) or not has_classes(cp):
        fail(f"could not read the classpath from {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_harness(root, work, classpath, args, workload, warm_passes):
    out = os.path.join(work, "run")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -Xmx only caps the heap, so peak RSS follows what the run touches.
    # G1 sizes its heap to pause-time goals, which made peak RSS swing by
    # a third from run to run (1.2-1.7 GB on stream_replay); with the
    # parallel collector it varied by a few percent, and passes were no
    # slower.
    cmd += ["-XX:+UseParallelGC", "-Xmx2g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Harness",
            "--input", args.input, "--out", out, "--seed", str(args.seed),
            "--warm-passes", str(warm_passes), "--trace", str(args.trace),
            "--setups", str(SETUPS), "--tables", ",".join(workload["tables"]),
            "--queries", ",".join(workload["queries"])]
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; see {log}")
    sys.stdout.write(stdout)
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited {proc.returncode}; see {log}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(result, input_dir, work):
    """Compares each query's written result with its oracle SQL run in
    DuckDB, columns sorted by name and rows in order. Expected frames are
    cached under the work directory, keyed by the SQL and the input
    files, since both are fixed. Returns the names that do not match."""
    import duckdb
    import pandas as pd

    cache = os.path.join(work, "oracle")
    os.makedirs(cache, exist_ok=True)
    files = [os.path.join(input_dir, f"{t}.parquet") for t in TABLES]
    files_key = "".join(f"{f}:{os.path.getsize(f)}:{os.path.getmtime(f)};"
                        for f in files if os.path.exists(f))
    con = None
    mismatched = {}
    for name, sql in sorted(result["oracle_sql"].items()):
        if name in result["check_errors"]:
            mismatched[name] = "raised: " + result["check_errors"][name]
            continue
        key = hashlib.sha256((files_key + sql).encode()).hexdigest()
        cached = os.path.join(cache, key + ".pkl")
        if os.path.exists(cached):
            expected = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for t, f in zip(TABLES, files):
                    if os.path.exists(f):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
            expected = con.execute(sql).df()
            expected.to_pickle(cached)
        parts = sorted(glob.glob(os.path.join(result["check_dir"], name, "*.parquet")))
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True) \
            if parts else pd.DataFrame()
        got = got[sorted(got.columns)]
        expected = expected[sorted(expected.columns)]
        if not got.equals(expected):
            if got.shape == expected.shape and list(got.columns) == list(expected.columns):
                rows = int((~(got == expected) & ~(got.isna() & expected.isna()))
                           .any(axis=1).sum())
                mismatched[name] = f"{rows} of {len(got)} rows differ from the oracle" \
                    if rows else "values equal, column types differ from the oracle"
            else:
                mismatched[name] = f"{len(got)} rows, columns {list(got.columns)}; " \
                                   f"oracle {len(expected)} rows, {list(expected.columns)}"
    if con is not None:
        con.close()
    return mismatched


def fmt(v):
    return f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--input",
                    help="directory of the input parquet tables "
                         "(default: ~/testdata/<the workload's scale>)")
    ap.add_argument("--queries",
                    help="comma-separated queries to run instead of the "
                         "workload's own (for diagnosis; not a gated workload)")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    args.input = args.input or default_input(args.workload)
    if not os.path.isdir(args.input):
        fail(f"input directory {args.input} does not exist")
    args.input = os.path.abspath(args.input)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)

    workload = dict(WORKLOADS[args.workload])
    if args.queries:
        workload["queries"] = args.queries.split(",")
    queries = workload["queries"]
    # at least three warm passes, so the median is not the first one,
    # which is still paying for JIT compilation; a traced run adds one
    # untraced warm pass to compare against
    warm_passes = max(3, round(args.seconds / workload["pass_s"])) + args.trace

    t0 = time.monotonic()
    classpath = build(root, work)
    build_s = time.monotonic() - t0
    print(f"perfbench: workload {args.workload}, seed {args.seed}, input {args.input}, "
          f"{len(queries)} queries, 1 cold + {warm_passes} warm passes "
          f"(build/check {build_s:.1f}s)")
    t1 = time.monotonic()
    result = run_harness(root, work, classpath, args, workload, warm_passes)
    t2 = time.monotonic()
    mismatched = oracle_check(result, args.input, work)
    print(f"perfbench: harness {t2 - t1:.1f}s, oracle check {time.monotonic() - t2:.1f}s")

    # A query execution fails if it raised, or if the query's checked
    # result does not match the oracle.
    executions = [r for p in result["passes"] for r in p["queries"]]
    attempted = len(executions)
    failed = sum(1 for r in executions if r["error"] is not None or r["name"] in mismatched)
    for name in sorted(mismatched):
        print(f"oracle: MISMATCH {name}: {mismatched[name]}")
    print(f"oracle: {len(queries) - len(mismatched)} of {len(queries)} queries match "
          f"the DuckDB oracle")

    e2e, info = stats.end_to_end(result)
    print(f"closed loop, 1 client, local[{result['cpus']}]; "
          f"{info['warm_passes']} warm passes, {info['samples']} warm query samples")
    for name, value in e2e.items():
        print(f"  {name:<14} {fmt(value):>10} {units[name]}")
    print(f"  {'error_rate':<14} {fmt(failed / attempted):>10} "
          f"({failed} failed of {attempted} attempted)")
    n = info["samples"]
    print(f"  {'query_tail_s':<14} {fmt(info['query_tail_s']):>10} s "
          f"(p{info['tail_percentile']} of {n} samples, "
          + ("10 beyond it)" if 2 * (n - 10) >= n else "too few for a tail: the median)"))

    if args.trace:
        layers = stats.per_layer(result)
        print("per-layer metrics per traced warm pass: median [min, max]")
        for name, (med, lo, hi) in layers.items():
            print(f"  {name:<22} {fmt(med):>10} [{fmt(lo)}, {fmt(hi)}] {units[name]}")
        traced_s, overhead_s = layers["trace.pass_s"][0], layers["trace.overhead_s"][0]
        print(f"  tracing overhead {fmt(overhead_s)} s per pass: traced {fmt(traced_s)} s "
              f"against untraced {fmt(traced_s - overhead_s)} s (warm passes after the first)")
        print(f"  {'query':<34} {'lat_s':>8} {'build_s':>8} {'jobs':>6} {'tasks':>7} "
              f"{'job_s':>8} {'shuf_mb':>8}")
        for row in stats.per_query(result):
            print(f"  {row['query']:<34} {row['latency_s']:8.3f} {row['build_s']:8.3f} "
                  f"{row['jobs']:6.0f} {row['tasks']:7.0f} {row['job_s']:8.3f} "
                  f"{row['shuffle_mb']:8.2f}")
        metrics = {k: {"value": v[0], "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}

    print(json.dumps({"correct": not mismatched and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    # Skip interpreter teardown: pyarrow's thread pools can abort the
    # process there ("terminate called without an active exception").
    os._exit(0)


if __name__ == "__main__":
    main()
