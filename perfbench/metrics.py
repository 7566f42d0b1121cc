"""Pure functions that turn the harness's raw observations into metrics.

The harness (`Harness.scala`) records spans around each public call, one
record per Spark job (keyed job -> stage, never a shared accumulator),
planning-phase intervals and per-micro-batch stream progress. Everything
here is arithmetic over those records, so it is tested without Spark
(`python3 -m unittest perfbench/test_metrics.py`).
"""
import statistics

MB = 1 << 20


def tail(samples):
    """The highest percentile that still has at least ten samples above it.

    Returns (value, percentile, n). With n sorted samples the value at
    index n-11 has exactly ten samples beyond it, so it sits at percentile
    100*(n-10)/n. Below 20 samples that percentile would fall under the
    median, which is no tail, so the maximum is returned as percentile 100.
    """
    s = sorted(samples)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi].
    Overlapping intervals count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_owner(job, spans):
    """The span (one row execution) a job belongs to: by the row's job tag
    when the job carries it, else by the span whose window holds the job's
    start (jobs from threads that did not inherit the tag)."""
    tags = set(filter(None, job.get("tags", "").split(",")))
    for i, s in enumerate(spans):
        if f"pb-{s['pass']}-{s['row']}" in tags:
            return i
    for i, s in enumerate(spans):
        if s["t0_ms"] <= job["start_ms"] <= s["t1_ms"]:
            return i
    return None


def driver_gap_s(span, jobs):
    """Wall time of one row execution not covered by any of its jobs."""
    lo, hi = span["t0_ms"], span["t1_ms"]
    covered = union_length([(j["start_ms"], j["end_ms"] or hi) for j in jobs],
                           lo, hi)
    return (hi - lo - covered) / 1000.0


def pass_times(spans):
    """{pass: seconds}: the sum of each row's build, collect and release."""
    out = {}
    for s in spans:
        out[s["pass"]] = out.get(s["pass"], 0.0) + (
            s["build_s"] + s["collect_s"] + s["release_s"])
    return out


def latency(span):
    """A query's latency: from the call into the engine to the result."""
    return span["build_s"] + span["collect_s"]


def end_to_end(res, spans):
    """End-to-end metrics of the untraced passes."""
    setup = statistics.median(s["session_s"] + s["register_s"] + s["pass_s"]
                              for s in res["setup"])
    lat = [latency(s) for s in spans]
    tail_v, tail_p, n = tail(lat)
    return {
        "setup_s": (setup, "s"),
        "pass_s": (statistics.median(pass_times(spans).values()), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail_v, "s"),
    }, {"tail_percentile": round(tail_p, 1), "samples": n}


def per_layer(res, spans, untraced_spans):
    """Per-layer metrics of the traced passes, each a mean per pass."""
    jobs = res.get("jobs", [])
    passes = sorted({s["pass"] for s in spans})
    npass = max(1, len(passes))
    owned = [[] for _ in spans]
    for j in jobs:
        i = job_owner(j, spans)
        if i is not None:
            owned[i].append(j)

    def jsum(key):
        return sum(j[key] for js in owned for j in js)

    build_jobs = sum(
        1 for s, js in zip(spans, owned) for j in js
        if j["start_ms"] <= s["t0_ms"] + s["build_s"] * 1000.0)
    wall_s = sum(latency(s) for s in spans)
    run_s = jsum("run_ms") / 1000.0
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    windows = [(s["t0_ms"], s["t1_ms"]) for s in spans]
    for p in res.get("plans", []):
        for k in phases:
            iv = p.get(k)
            if iv and any(a <= iv[0] <= b for a, b in windows):
                phases[k] += (iv[1] - iv[0]) / 1000.0
    batches = [b for b in res.get("batches", [])
               if any(a <= b["ts_ms"] <= z for a, z in windows)]
    trig = [b["trigger_ms"] for b in batches]
    state_rows = {}
    for b in batches:
        state_rows[b["run"]] = max(state_rows.get(b["run"], 0),
                                   b["state_rows"])
    q1 = [latency(s) for s in untraced_spans if s["row"] == "tpch_q1"]
    traced_pass = statistics.median(pass_times(spans).values())
    untraced_pass = statistics.median(pass_times(untraced_spans).values())
    cores = res["cores"]
    m = {
        "context.register_s": (statistics.median(
            s["register_s"] for s in res["setup"]), "s"),
        "catalyst.analyze_s": (phases["analysis"] / npass, "s"),
        "catalyst.optimize_s": (phases["optimization"] / npass, "s"),
        "catalyst.plan_s": (phases["planning"] / npass, "s"),
        "operators.build_s": (sum(s["build_s"] for s in spans
                                  if not s["row"].startswith("tpch_q"))
                              / npass, "s"),
        "operators.build_jobs": (build_jobs / npass, "count"),
        "exec.collect_s": (sum(s["collect_s"] for s in spans) / npass, "s"),
        "scheduler.jobs": (sum(map(len, owned)) / npass, "count"),
        "scheduler.stages": (jsum("stages") / npass, "count"),
        "scheduler.tasks": (jsum("tasks") / npass, "count"),
        "scheduler.failed_tasks": (jsum("failed_tasks") / npass, "count"),
        "scheduler.driver_gap_s": (sum(driver_gap_s(s, js) for s, js in
                                       zip(spans, owned)) / npass, "s"),
        "task.run_s": (run_s / npass, "s"),
        "task.cpu_s": (jsum("cpu_ns") / 1e9 / npass, "s"),
        "task.gc_s": (jsum("gc_ms") / 1000.0 / npass, "s"),
        "task.busy_frac": (run_s / (wall_s * cores) if wall_s else 0.0,
                           "ratio"),
        "shuffle.write_mb": (jsum("shuffle_write") / MB / npass, "MB"),
        "shuffle.read_mb": (jsum("shuffle_read") / MB / npass, "MB"),
        "shuffle.fetch_wait_s": (jsum("fetch_wait_ms") / 1000.0 / npass,
                                 "s"),
        "scan.input_mb": (jsum("input_bytes") / MB / npass, "MB"),
        "scan.records": (jsum("input_records") / npass, "count"),
        "spill.disk_mb": (jsum("spill_disk") / MB / npass, "MB"),
        "streaming.batches": (len(batches) / npass, "count"),
        "streaming.add_batch_ms": (sum(b["add_batch_ms"] for b in batches)
                                   / npass, "ms"),
        "streaming.wal_commit_ms": (sum(b["wal_commit_ms"] for b in batches)
                                    / npass, "ms"),
        "streaming.query_planning_ms": (sum(b["query_planning_ms"]
                                            for b in batches) / npass, "ms"),
        "streaming.state_rows": (sum(state_rows.values()) / npass, "count"),
        "streaming.state_commit_ms": (sum(b["state_commit_ms"]
                                          for b in batches) / npass, "ms"),
        "streaming.batch_p50_ms": (statistics.median(trig) if trig else 0.0,
                                   "ms"),
        "streaming.batch_tail_ms": (tail(trig)[0], "ms"),
        "caches.release_s": (sum(s["release_s"] for s in spans) / npass,
                             "s"),
        "scratch.mb": (res["scratch_bytes"] / MB, "MB"),
        "jvm.peak_rss_mb": (res["vm_hwm_kb"] / 1024.0, "MB"),
        "query.tpch_q1_s": (statistics.median(q1) if q1 else 0.0, "s"),
        "trace.untraced_pass_s": (untraced_pass, "s"),
        "trace.traced_pass_s": (traced_pass, "s"),
        "trace.overhead": (traced_pass / untraced_pass, "ratio"),
    }
    return m
