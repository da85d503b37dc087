"""Arithmetic behind the benchmark's metrics.

Everything here works on the raw record the JVM harness writes
(`result.json`): passes of query runs, each run with its latency split
into the query-function call (`build_s`) and the materializing action
(`action_s`), and on traced passes the counters and job intervals that
the listeners saw while the query ran.
"""

import statistics

MB = 1024.0 * 1024.0


def median(values):
    return statistics.median(values)


def tail_percentile(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns `(percentile, value, n)`. In ascending order the sample at
    1-based rank k has n - k samples beyond it, so the highest eligible
    rank is n - beyond and its percentile is floor(100 * k / n). When
    that rank falls below the median (fewer than about 2 * beyond
    samples) there is no tail to speak of, and the median is returned as
    percentile 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - beyond
    if 2 * k < n:
        return 50, median(xs), n
    return (100 * k) // n, xs[k - 1], n


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of `(start, end)` intervals, clipped
    to `[lo, hi]` when given. Overlapping and nested intervals count
    once; empty and inverted ones count zero."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def latency(run):
    return run["build_s"] + run["action_s"]


def pass_seconds(p):
    """A pass's time: the sum of its query latencies (the untimed work
    between queries is not part of it)."""
    return sum(latency(r) for r in p["queries"])


def end_to_end(result):
    """The end-to-end metrics of one untraced measurement, and details:
    the tail latency with its percentile and sample count. The tail is
    not a gated metric: with a handful of queries of different cost it
    falls between two queries' latencies and swings from run to run.

    `result` is the harness record; warm figures come from the untraced
    warm passes only."""
    passes = result["passes"]
    cold = [p for p in passes if p["kind"] == "cold"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    ok = [r for p in warm for r in p["queries"] if r["error"] is None]
    samples = [latency(r) for r in ok]
    pct, tail, n = tail_percentile(samples)
    by_query = {}
    for r in ok:
        by_query.setdefault(r["name"], []).append(latency(r))
    return {
        # the cold set-up, which a pipeline submit pays; the restarts in
        # the warm JVM are not it
        "setup_s": result["setup_s"],
        "cold_pass_s": pass_seconds(cold[0]),
        # the median warm pass, taken query by query: a slow outlier of
        # one query in one pass does not pull in that whole pass
        "pass_s": sum(median(xs) for xs in by_query.values()),
        "query_p50_s": median(samples),
        "rss_peak_mb": result["rss_peak_mb"],
    }, {"query_tail_s": tail, "tail_percentile": pct, "samples": n, "warm_passes": len(warm)}


def layer_values(p, wall):
    """Per-layer metrics of one traced pass. `wall` is the pass time
    the busy-core ratio is taken against."""
    c = {}
    for r in p["queries"]:
        for k, v in r["counts"].items():
            c[k] = c.get(k, 0.0) + v
    g = lambda k: c.get(k, 0.0)
    job_ms = sum(union_length(r["jobs"], r["start_ms"], r["end_ms"]) for r in p["queries"])
    busy_ms = sum(r["end_ms"] - r["start_ms"] for r in p["queries"])
    return {
        "entry.build_s": sum(r["build_s"] for r in p["queries"]),
        "sched.jobs": g("sched.jobs"),
        "sched.stages": g("sched.stages"),
        "sched.tasks": g("sched.tasks"),
        "sched.job_s": job_ms / 1000.0,
        "sched.driver_gap_s": (busy_ms - job_ms) / 1000.0,
        "blocks.stored": g("blocks.stored"),
        "blocks.stored_mb": g("blocks.stored_b") / MB,
        "blocks.residue": float(sum(r["residue"] for r in p["queries"])),
        "action.exec_s": sum(r["action_s"] for r in p["queries"]),
        "task.run_s": g("task.run_ms") / 1000.0,
        "task.cpu_s": g("task.cpu_ns") / 1e9,
        "task.gc_s": g("task.gc_ms") / 1000.0,
        "task.cores_busy": g("task.run_ms") / 1000.0 / wall,
        "shuffle.write_mb": g("shuffle.write_b") / MB,
        "shuffle.read_mb": g("shuffle.read_b") / MB,
        "shuffle.spill_mb": g("shuffle.spill_b") / MB,
        "sources.input_mb": g("sources.input_b") / MB,
        "sources.input_rows": g("sources.input_rows"),
        "catalyst.executions": g("catalyst.executions"),
        "catalyst.analysis_ms": g("catalyst.analysis_ms"),
        "catalyst.optimizer_ms": g("catalyst.optimizer_ms"),
        "catalyst.planning_ms": g("catalyst.planning_ms"),
        "stream.queries": g("stream.queries"),
        "stream.batches": g("stream.batches"),
        "stream.rows_in": g("stream.rows_in"),
        "stream.state_rows": g("stream.state_rows"),
        "stream.state_mb": g("stream.state_b") / MB,
        "stream.add_batch_ms": g("stream.add_batch_ms"),
        "stream.wal_commit_ms": g("stream.wal_commit_ms"),
        "output.write_mb": g("output.write_b") / MB,
        "output.rows": g("output.rows"),
    }


def per_layer(result):
    """Per-layer metrics over the traced warm passes: for each metric
    the median, minimum and maximum across passes. Counts are not
    exactly repeatable between passes, so the range is kept."""
    warm = [p for p in result["passes"] if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    # the first warm pass is left out of the comparison: it still pays
    # for JIT compilation and carries the check writes
    untraced = [p for p in warm[1:] if not p["traced"]]
    rows = [layer_values(p, pass_seconds(p)) for p in traced]
    out = {k: (median([r[k] for r in rows]), min(r[k] for r in rows), max(r[k] for r in rows))
           for k in rows[0]}
    traced_s = [pass_seconds(p) for p in traced]
    out["trace.pass_s"] = (median(traced_s), min(traced_s), max(traced_s))
    overhead = median(traced_s) - median([pass_seconds(p) for p in untraced])
    out["trace.overhead_s"] = (overhead, overhead, overhead)
    return out


def per_query(result):
    """Diagnostic table: per query, the median over traced warm passes
    of its latency, query-function time, jobs, tasks and shuffle."""
    traced = [p for p in result["passes"] if p["kind"] == "warm" and p["traced"]]
    by_name = {}
    for p in traced:
        for r in p["queries"]:
            by_name.setdefault(r["name"], []).append(r)
    table = []
    for name in sorted(by_name):
        runs = by_name[name]
        col = lambda f: median([f(r) for r in runs])
        table.append({
            "query": name,
            "latency_s": col(latency),
            "build_s": col(lambda r: r["build_s"]),
            "jobs": col(lambda r: r["counts"].get("sched.jobs", 0.0)),
            "tasks": col(lambda r: r["counts"].get("sched.tasks", 0.0)),
            "job_s": col(lambda r: union_length(r["jobs"], r["start_ms"], r["end_ms"]) / 1000.0),
            "shuffle_mb": col(lambda r: (r["counts"].get("shuffle.write_b", 0.0)) / MB),
        })
    return table
