#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the classpath under
`perfbench/.work/`; later runs reuse it while the sources are unchanged.
Inputs are generated from the seed (`gen.py`) and cached per seed. The
harness JVM then times the workload (`Harness.scala`), the first timed
pass's results are hash-compared with DuckDB running the engine's own
oracle SQL over the same files, and the last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

# rows per workload, with how many times lineitem and orders of the
# sf0.01 fixture are replicated (gen.py) and the fewest queries a timed
# window holds: 40 put query_tail_s at p75; a stream_write query takes
# ~1.5 s, so 12 is what the check's time allows, and below 20 the tail is
# the maximum (metrics.tail)
WORKLOADS = {
    "tpch_sf1": (5, ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6"], 40),
    "llm_pipeline": (1, ["dedup_minhash_lsh", "text_pii_redact",
                         "text_lm_score"], 12),
    "stream_write": (1, ["stream_exec_window_agg", "stream_exec_dedup",
                         "sink_parquet_codecs"], 12),
}
DEADLINE_S = 165  # for input generation and the harness JVM; the oracle follows
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
REFERENCE_Q1_MS = 1956  # the reference's published TPC-H q1 at SF=1


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, log_path, timeout, **kw):
    """Run `cmd` in its own process group with output to `log_path`; kill
    the whole group on timeout and always wait for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_fingerprint():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here: run from the root of a checkout")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    fp = source_fingerprint()
    cp_file, fp_file = (os.path.join(bdir, "classpath.txt"),
                        os.path.join(bdir, "fingerprint"))
    if (os.path.exists(cp_file) and os.path.exists(fp_file)
            and open(fp_file).read() == fp):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx3g -XX:-UsePerfData"))
    log = os.path.join(bdir, "sbt.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export perfbench/Runtime/fullClasspath"],
                  log, 870, cwd=HERE, env=env)
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}), log in {log}")
    open(cp_file, "w").write(lines[-1])
    open(fp_file, "w").write(fp)
    return lines[-1]


def inputs(workload, reps, seed):
    """Generated inputs for (workload, seed), built once and reused while
    the generator and the fixture are unchanged."""
    h = hashlib.sha256(open(gen.__file__, "rb").read())
    for t in gen.TABLES:
        h.update(open(os.path.join(gen.FIXTURE, f"{t}.parquet"), "rb").read())
    d = os.path.join(WORK, "data",
                     f"{workload}-x{reps}-seed{seed}-{h.hexdigest()[:12]}")
    gen.generate(d, reps, seed)
    os.utime(d)
    # bound the cache: keep the 24 most recently used input sets
    sets = sorted(glob.glob(os.path.join(WORK, "data", "*-seed*")),
                  key=os.path.getmtime)
    for old in sets[:-24]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def oracle_failures(data_dir, out_dir):
    """Rows whose first-pass result differs from DuckDB running the
    engine's oracle SQL over the same input files."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{gen.table_files(data_dir, t)}')")
    bad = {}
    for row, sql in json.load(open(os.path.join(out_dir,
                                                "oracle_sql.json"))).items():
        try:
            want = con.execute(sql)
            wc, wr = canon(want.fetchall(), [d[0] for d in want.description])
            got = duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/oracle_out/{row}/*.parquet'")
            gc, gr = canon(got.fetchall(), [d[0] for d in got.description])
            if (wc, wr) != (gc, gr):
                bad[row] = f"mismatch: engine {len(gr)} rows, oracle {len(wr)}"
        except Exception as e:  # a missing output or an oracle error
            bad[row] = f"{type(e).__name__}: {e}"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the processes it started (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    reps, rows, min_samples = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))

    classpath = build()
    t_start = time.monotonic()
    data = inputs(a.workload, reps, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{os.getpid()}")
    scratch = os.path.join(WORK, f"scratch-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    # no hsperfdata file: it would land in the system temp dir
    java = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        java += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    java += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dspark.local.dir={run_dir}/spark-local",
             f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
             "-cp", classpath, "perfbench.Harness", data, run_dir,
             ",".join(rows), str(a.seed), str(a.seconds), str(a.trace),
             str(cores), str(min_samples)]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    log = os.path.join(WORK, f"harness-{a.workload}.log")
    try:
        left = DEADLINE_S - (time.monotonic() - t_start)
        rc = run_proc(java, log, left, cwd=ROOT, env=env)
        if rc != 0:
            sys.stderr.write("".join(open(log).readlines()[-30:]))
            fail(f"harness exited {rc}, log in {log}")
        t_jvm = time.monotonic()
        # the raw records of the last run stay next to the harness log
        shutil.copy(os.path.join(run_dir, "result.json"),
                    os.path.join(WORK, f"result-{a.workload}.json"))
        res = json.load(open(os.path.join(run_dir, "result.json")))
        bad = oracle_failures(data, run_dir)
        print(f"[timing] inputs + harness {t_jvm - t_start:.1f} s, oracle "
              f"{time.monotonic() - t_jvm:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    spans = res["spans"]
    first = {s["row"]: s["digest"] for s in spans if s["pass"] == 1}
    failed = [s for s in spans if s["error"] or s["row"] in bad
              or s["digest"] != first.get(s["row"])]
    for row, why in sorted(bad.items()):
        print(f"FAIL {row}: {why}")
    for s in failed:
        if s["error"]:
            print(f"FAIL {s['row']} pass {s['pass']}: {s['error']}")
    untraced = [s for s in spans if not s["traced"]]
    e2e, tail_info = metrics.end_to_end(res, untraced)
    n = len(spans)
    line = ", ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items())
    print(f"{a.workload} seed={a.seed} nproc={cores} rows={len(rows)} "
          f"lineitem=sf0.01x{reps}: {line}; query_tail_s is "
          f"p{tail_info['tail_percentile']} of {tail_info['samples']} "
          f"samples; failed_frac="
          f"{len(failed) / n:.4g} ({len(failed)}/{n})")
    q1 = [metrics.latency(s) for s in untraced if s["row"] == "tpch_q1"]
    if q1:
        print(f"tpch_q1_s={statistics.median(q1):.4g} s at sf~{reps / 100:g} "
              f"(reference: {REFERENCE_Q1_MS} ms at SF=1)")
    if a.trace:
        traced = [s for s in spans if s["traced"]]
        chosen = metrics.per_layer(res, traced, untraced)
        o = chosen["trace.overhead"][0]
        print(f"tracing overhead: traced pass_s "
              f"{chosen['trace.traced_pass_s'][0]:.4g} s / untraced pass_s "
              f"{chosen['trace.untraced_pass_s'][0]:.4g} s = {o:.4g}")
        for k, (v, u) in chosen.items():
            print(f"  {k} = {v:.6g} {u}")
    else:
        chosen = e2e
    print(json.dumps({
        "correct": not failed, "attempted": n, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
