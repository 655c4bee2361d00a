"""Per-layer numbers of a traced run.

Layer self time: every instant of a query's span is charged to the
innermost layer active at that instant, so the self times of one query
add up to its traced result time. Innermost first:

    index      jobs started inside Materialize.timedBuild
    exec       every other Spark job
    catalyst   analysis / optimization / planning phases (QueryPlanningTracker)
    streaming  micro-batch triggers (StreamingQueryProgress)
    sources    TextIngest spans
    sinks      result write spans (noop sink, JsonSink, top-20 collect)
    operators  the query's construction call (registry fn, pipeline build)
    driver     whatever is left of the query span
"""
import glob
import os
import statistics

import duckdb

PRIORITY = ["index", "exec", "catalyst", "streaming", "sources", "sinks", "operators", "driver"]
SPAN_LAYER = {"sources.inflate": "sources", "sinks.write": "sinks", "sinks.json": "sinks",
              "sinks.collect": "sinks", "operators.construct": "operators"}
PHASES = ("analysis", "optimization", "planning")

# (name, unit) of every per-layer metric, in report order
METRICS = [
    ("sources.inflate_share", "ratio"), ("sources.scan_rows", "count"),
    ("sources.scan_mb", "MB"), ("sources.splits", "count"),
    ("operators.construct_s", "s"),
    ("index.build_share", "ratio"), ("index.builds", "count"), ("index.stored_mb", "MB"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.exchanges", "count"), ("catalyst.joins", "count"), ("catalyst.scans", "count"),
    ("catalyst.rescans", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.scheduler_delay_s", "s"), ("exec.core_busy_frac", "ratio"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.shuffle_records", "count"), ("exec.fetch_wait_share", "ratio"),
    ("exec.spill_mb", "MB"), ("exec.peak_exec_mem_mb", "MB"), ("exec.exchange_rows", "count"),
    ("exec.task_retry_frac", "ratio"),
    ("sinks.write_s", "s"), ("sinks.out_rows", "count"), ("sinks.out_mb", "MB"),
    ("streaming.batches", "count"), ("streaming.trigger_share", "ratio"),
    ("streaming.add_batch_share", "ratio"), ("streaming.wal_commit_share", "ratio"),
    ("streaming.commit_share", "ratio"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"), ("streaming.state_commit_share", "ratio"),
    ("driver.session_s", "s"), ("driver.gc_s", "s"), ("driver.calib_s", "s"),
    ("driver.loadavg", "load"), ("trace.overhead_s", "s"),
]


def self_times(query_span, children, intervals):
    """Charge each instant of query_span to its innermost active layer."""
    q0, q1 = query_span["start"], query_span["end"]
    ivs = [("driver", q0, q1)]
    ivs += [(SPAN_LAYER[c["name"]], c["start"], c["end"]) for c in children
            if c["name"] in SPAN_LAYER]
    for i in intervals:
        kind = i["kind"]
        layer = ("index" if i["build"] else "exec") if kind == "job" else \
            "catalyst" if kind in PHASES else "streaming" if kind == "trigger" else None
        if layer:
            ivs.append((layer, i["start"], i["end"]))
    ivs = [(PRIORITY.index(l), l, max(a, q0), min(b, q1)) for l, a, b in ivs]
    ivs = [iv for iv in ivs if iv[3] > iv[2]]
    cuts = sorted({q0, q1} | {iv[2] for iv in ivs} | {iv[3] for iv in ivs})
    out = dict.fromkeys(PRIORITY, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        active = [iv for iv in ivs if iv[2] <= a and iv[3] >= b]
        if active:
            out[min(active)[1]] += (b - a) / 1e3
    return out


def result_sizes(results_dir):
    """Rows and bytes of the verification pass's written results."""
    rows, size = 0, 0
    con = duckdb.connect()
    for d in sorted(glob.glob(f"{results_dir}/*/")):
        files = glob.glob(f"{d}*.parquet")
        if files:
            rows += con.execute(f"SELECT count(*) FROM read_parquet('{d}*.parquet')").fetchone()[0]
        for f in glob.glob(f"{d}*"):
            size += os.path.getsize(f)
            if f.endswith(".json"):
                with open(f, encoding="utf-8") as fh:
                    rows += max(0, fh.read().count(", ") + 1) if os.path.getsize(f) > 2 else 0
    con.close()
    return rows, size


def summarize(rec, results_dir):
    """(per-layer metrics {name: (value, unit)}, trace detail for the record)."""
    spans = rec["spans"]
    pass_ids = [s["pass"] for s in spans if s["name"] == "pass"]
    untraced_q = {}
    for p in rec["passes"]:
        for q in p["queries"]:
            untraced_q.setdefault(q["query"], []).append(q["s"])
    untraced_q = {q: statistics.median(ts) for q, ts in untraced_q.items()}
    cores = rec["cores"]
    out_rows, out_bytes = result_sizes(results_dir)
    per_pass, per_query = [], {}
    for pid, p in zip(pass_ids, rec["traced_passes"]):
        wall = p["wall_s"]
        stats = p["stats"]
        tot = {}
        for k in next(iter(stats.values())):
            if k != "intervals":
                tot[k] = sum(s[k] for s in stats.values())
        tot["peak_exec_mem"] = max(s["peak_exec_mem"] for s in stats.values())
        layer_tot = dict.fromkeys(PRIORITY, 0.0)
        phase = dict.fromkeys(PHASES, 0.0)
        inflate = 0.0
        for q, s in stats.items():
            qspan = next(x for x in spans if x["id"] == f"q:{pid}:{q}")
            kids = [x for x in spans if x["parent"] == qspan["id"]]
            inflate += sum(k["end"] - k["start"] for k in kids if k["name"] == "sources.inflate") / 1e3
            st = self_times(qspan, kids, s["intervals"])
            for layer, v in st.items():
                layer_tot[layer] += v
            for i in s["intervals"]:
                if i["kind"] in PHASES:
                    phase[i["kind"]] += (i["end"] - i["start"]) / 1e3
            traced = (qspan["end"] - qspan["start"]) / 1e3
            per_query.setdefault(q, []).append(
                {"traced_s": traced, "self_s": st, "untraced_median_s": untraced_q.get(q)})
        task_run = tot["task_run_ms"] / 1e3
        m = {
            "sources.inflate_share": inflate / wall,
            "sources.scan_rows": tot["input_records"],
            "sources.scan_mb": tot["input_bytes"] / 1e6,
            "sources.splits": tot["splits"],
            "operators.construct_s": layer_tot["operators"],
            "index.build_share": p["build_s"] / wall,
            "index.builds": p["builds"],
            "index.stored_mb": p["stored_mb"],
            "catalyst.analysis_s": phase["analysis"],
            "catalyst.optimization_s": phase["optimization"],
            "catalyst.planning_s": phase["planning"],
            "catalyst.exchanges": tot["exchanges"], "catalyst.joins": tot["joins"],
            "catalyst.scans": tot["scans"], "catalyst.rescans": tot["rescans"],
            "exec.jobs": tot["jobs"], "exec.stages": tot["stages"], "exec.tasks": tot["tasks"],
            "exec.task_run_s": task_run,
            "exec.task_cpu_s": tot["task_cpu_ns"] / 1e9,
            "exec.gc_s": tot["gc_ms"] / 1e3,
            "exec.scheduler_delay_s": tot["sched_delay_ms"] / 1e3,
            "exec.core_busy_frac": task_run / (wall * cores),
            "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / 1e6,
            "exec.shuffle_read_mb": tot["shuffle_read_bytes"] / 1e6,
            "exec.shuffle_records": tot["shuffle_records_read"],
            "exec.fetch_wait_share": tot["fetch_wait_ms"] / max(1, tot["task_run_ms"]),
            "exec.spill_mb": tot["spill_bytes"] / 1e6,
            "exec.peak_exec_mem_mb": tot["peak_exec_mem"] / 1e6,
            "exec.exchange_rows": tot["exchange_rows"],
            "exec.task_retry_frac": tot["failed_tasks"] / max(1, tot["tasks"]),
            "sinks.write_s": layer_tot["sinks"],
            "sinks.out_rows": out_rows,
            "sinks.out_mb": out_bytes / 1e6,
            "streaming.batches": tot["batches"],
            "streaming.trigger_share": tot["trigger_ms"] / 1e3 / wall,
            "streaming.add_batch_share": tot["add_batch_ms"] / 1e3 / wall,
            "streaming.wal_commit_share": tot["wal_commit_ms"] / 1e3 / wall,
            "streaming.commit_share": tot["commit_ms"] / 1e3 / wall,
            "streaming.state_rows": tot["state_rows"],
            "streaming.state_mb": tot["state_bytes"] / 1e6,
            "streaming.state_commit_share": tot["state_commit_ms"] / 1e3 / wall,
            "driver.gc_s": p["gc_s"],
        }
        per_pass.append((m, layer_tot, tot, wall))
    metrics = {}
    for name, unit in METRICS:
        if name == "driver.session_s":
            v = rec["session_s"]
        elif name == "driver.calib_s":
            v = (rec["calib_s"]["start"] + rec["calib_s"]["end"]) / 2
        elif name == "driver.loadavg":
            v = (rec["loadavg"]["start"] + rec["loadavg"]["end"]) / 2
        elif name == "trace.overhead_s":
            v = (statistics.median(x[3] for x in per_pass) -
                 statistics.median(p["wall_s"] for p in rec["passes"]))
        else:
            v = statistics.median(x[0][name] for x in per_pass)
        metrics[name] = (v, unit)
    queries = {}
    for q, runs in per_query.items():
        traced = statistics.median(r["traced_s"] for r in runs)
        selfs = {l: statistics.median(r["self_s"][l] for r in runs) for l in PRIORITY}
        base = runs[0]["untraced_median_s"]
        queries[q] = {"traced_s": traced, "untraced_s": base, "self_s": selfs,
                      "self_sum_s": sum(selfs.values()),
                      "unattributed_share": selfs["driver"] / traced,
                      "gap_vs_untraced": (sum(selfs.values()) - base) / base if base else None}
    detail = {
        "layer_self_s_per_pass": {l: statistics.median(x[1][l] for x in per_pass) for l in PRIORITY},
        "queries": queries,
        "traced_pass_s": [x[3] for x in per_pass],
        "untraced_pass_s": [p["wall_s"] for p in rec["passes"]],
        "overhead_s": metrics["trace.overhead_s"][0],
        "count_probe_s": rec.get("count_probe_s"),
        "spans": len(spans),
    }
    return metrics, detail
