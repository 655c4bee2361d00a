#!/usr/bin/env python3
"""Benchmark of the graft engine: seeded inputs, result-timed passes,
DuckDB output check, per-layer trace.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (into .bench_build/); inputs,
oracle answers and run records go under .bench_work/. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. The full run record (inputs, per-query
times, host drift, session config, oracle results, layer self-times)
is written to .bench_work/records/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ["wordcount_ingest", "registry_mix"]
RUN_LIMIT_S = 170  # the JVM is stopped if a run gets near the 180 s cap
BUILD_LIMIT_S = 850
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, cwd, limit_s, env=None, stdout=None):
    """Run cmd in its own process group; stop the whole group on timeout
    or when this process is asked to terminate."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or subprocess.DEVNULL,
                         stderr=subprocess.PIPE, start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        _, err = p.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise RuntimeError(f"{cmd[0]} exceeded {limit_s:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, err


def source_stamp(root):
    """Hash of every file the build reads, to skip sbt when unchanged."""
    h = hashlib.sha256()
    for base in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src"]:
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in d.split(os.sep) for f in fs)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + driver with sbt once per source state; return the
    runtime classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    log("building engine and driver with sbt")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        rc, err = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export perfbench/Runtime/fullClasspath"],
                            os.path.join(root, "perfbench"), BUILD_LIMIT_S, stdout=logf)
    with open(os.path.join(out, "sbt.log")) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or "[error]" in "\n".join(lines):
        raise RuntimeError(f"sbt build failed (rc={rc}): {err[-2000:]}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(root, cp, workload, data_dir, out_dir, seconds, trace, ncores, limit_s):
    tmp = os.path.join(root, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Runner", workload, data_dir, out_dir,
            str(seconds), "1" if trace else "0", str(ncores)])
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        rc, err = run_child(cmd, root, limit_s, env=env, stdout=logf)
    rec_path = os.path.join(out_dir, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        raise RuntimeError(f"benchmark JVM failed (rc={rc}): {err[-3000:]}")
    with open(rec_path) as f:
        return json.load(f)


def tail(samples):
    """Highest percentile with at least ten samples beyond it; with fewer
    than eleven samples, the maximum. Returns (value, percentile, n)."""
    v = sorted(samples)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    k = n - 10
    return v[k - 1], 100.0 * k / n, n


def end_to_end(rec, info):
    passes = rec["passes"]
    pass_s = statistics.median([p["wall_s"] for p in passes])
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            per_query.setdefault(q["query"], []).append(q["s"])
    q_median = {q: statistics.median(ts) for q, ts in per_query.items()}
    geomean = math.exp(sum(math.log(t) for t in q_median.values()) / len(q_median))
    tail_v, tail_p, tail_n = tail([t for ts in per_query.values() for t in ts])
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "query_geomean_s": (geomean, "s"),
        "query_tail_s": (tail_v, "s"),
        "cpu_s": (statistics.median([p["cpu_s"] for p in passes]), "s"),
        "throughput_mb_s": (info["bytes"] / 1e6 / pass_s, "MB/s"),
        "live_heap_mb": (rec["live_heap_mb"], "MB"),
    }
    extra = {"query_tail_percentile": tail_p, "query_tail_samples": tail_n,
             "passes": len(passes), "query_median_s": q_median}
    return m, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("no engine sources here (build.sbt, src/main/scala/graft): run from a checkout root")
        return 2
    work = os.path.join(root, ".bench_work")
    cp = build(root)
    t_built = time.time()

    data_dir, info = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    out_dir = os.path.join(work, "run", args.workload)
    limit = RUN_LIMIT_S - (time.time() - t_built) - 15
    rec = run_jvm(root, cp, args.workload, data_dir, out_dir, args.seconds,
                  args.trace == 1, cores(), limit)

    cache = os.path.join(work, "oracle")
    results = os.path.join(out_dir, "results")
    if args.workload == "wordcount_ingest":
        checks = oracle.check_wordcount(data_dir, results, cache)
    else:
        checks = oracle.check_registry(data_dir, results, rec["oracle_sql"], cache)
    for q, e in rec["dump_failures"].items():
        checks[q] = f"failed: {e}"
    mismatched = sorted(q for q, e in checks.items() if e)

    passes = rec["passes"] + rec.get("traced_passes", [])
    timed_failed = sum(len(p["failed"]) for p in passes)
    attempted = sum(len(p["queries"]) for p in passes) + timed_failed + len(checks)
    failed = len(mismatched) + timed_failed
    e2e, extra = end_to_end(rec, info)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "input": info, "end_to_end": e2e, **extra,
              "failed_frac": failed / attempted, "checks": checks,
              "host": {"calib_s": rec["calib_s"], "loadavg": rec["loadavg"],
                       "cores": rec["cores"]},
              "config": rec["config"], "setup": {"session_s": rec["session_s"],
                                                 "warmup": rec["warmup"]},
              "passes": rec["passes"], "count_probe_s": rec.get("count_probe_s")}
    if args.trace == 1:
        per_layer, trace_detail = layers.summarize(rec, results)
        record["per_layer"] = per_layer
        record["trace"] = trace_detail
        metrics = per_layer
    else:
        metrics = e2e

    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for q, e in sorted(checks.items()):
        print(f"{'OK  ' if not e else 'FAIL'} {q}{'' if not e else ': ' + e}")
    for k, (v, unit) in metrics.items():
        print(f"{k:28s} {v:14.6f} {unit}")
    if args.trace == 1:
        gaps = [abs(q["gap_vs_untraced"]) for q in trace_detail["queries"].values()]
        probes = ", ".join(f"{q} result {trace_detail['queries'][q]['traced_s']:.3f} s vs "
                           f"count() {c:.3f} s" for q, c in rec["count_probe_s"].items())
        print(f"tracing overhead {trace_detail['overhead_s']:+.3f} s per pass; largest "
              f"|self-time sum - untraced result| {max(gaps):.1%}; {probes}")
    else:
        print(f"query_tail_s is p{extra['query_tail_percentile']:.1f} of "
              f"{extra['query_tail_samples']} samples; failed_frac {failed}/{attempted}; "
              f"{extra['passes']} passes in {rec['measured_s']:.1f} s; "
              f"calib_s {rec['calib_s']['start']:.3f}->{rec['calib_s']['end']:.3f}; "
              f"loadavg {rec['loadavg']['start']:.2f}->{rec['loadavg']['end']:.2f}; "
              f"run {time.time() - t_start:.0f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
