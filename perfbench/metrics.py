"""Arithmetic of the benchmark: percentiles, span self time, and the
end-to-end and per-layer metrics computed from a run record (run.json)."""
import math


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between the
    two nearest ranks; None for an empty input."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    """Geometric mean of positive values; 0.0 for an empty input."""
    return math.exp(sum(math.log(x) for x in values) / len(values)) if values else 0.0


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover
    (children may overlap each other or stick out of the parent)."""
    start, end = span
    cover = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                cover += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        cover += cur_e - cur_s
    return (end - start) - cover


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def requests(record, traced=False):
    """Latency in ms of each completed client request: one query in
    queries_*, one day in star_etl (its batch commit plus the analytic that
    follows it, which share a pass number)."""
    reqs, failed = {}, set()
    for o in record["ops"]:
        if o["traced"] != traced or o["warmup"]:
            continue
        key = o["id"] if o["kind"] == "query" else ("day", o["pass"])
        reqs[key] = reqs.get(key, 0.0) + o["ms"]
        if not o["ok"]:
            failed.add(key)
    return [ms for key, ms in reqs.items() if key not in failed]


def end_to_end(record):
    """End-to-end metrics of one run, from its untraced requests; the
    throughput is completed requests over the wall time of the timed loop."""
    lat = requests(record)
    return {
        "setup_s": record["setup_s"],
        "rss_peak_mb": record["rss_peak_mb"],
        "ops_per_s": len(lat) / record["timed_s"] if record["timed_s"] else 0.0,
        "op_geomean_ms": geomean(lat),
        "op_p90_ms": percentile(lat, 90) or 0.0,
    }


def details(record):
    """The workload-specific latencies, with their sample counts."""
    ops = [o for o in record["ops"] if o["ok"] and not o["traced"] and not o["warmup"]]
    out = {}
    for kind in ("query", "batch", "analytic"):
        xs = [o["ms"] for o in ops if o["kind"] == kind]
        if xs:
            out[kind] = {"n": len(xs), "geomean_ms": geomean(xs), "p50_ms": percentile(xs, 50),
                         "p90_ms": percentile(xs, 90), "p95_ms": percentile(xs, 95)}
    return out


PER_OP = ["jobs", "schema_jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms",
          "gc_ms", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
          "analysis_ms", "optimization_ms", "planning_ms", "exchanges", "aqe_replans",
          "kernel_queries"]


def _subtree_totals(spans):
    """Per span id: its own counters plus those of every descendant."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    memo = {}

    def total(i):
        if i not in memo:
            t = dict(by_id[i]["stats"])
            for k in kids.get(i, []):
                sub = total(k)
                for key in PER_OP:
                    t[key] += sub[key]
                t["peak_mem_bytes"] = max(t["peak_mem_bytes"], sub["peak_mem_bytes"])
            memo[i] = t
        return memo[i]
    return {i: total(i) for i in by_id}, kids


def per_layer(record, cores):
    """Per-layer metrics from the traced requests of one run. Counters are
    means per traced request, summed over the request's span tree. Time in
    a module that only one workload calls is given as its share of the time
    that blocks on it (request time, or set-up time for the initial load),
    so the other workload reads 0 as a ratio rather than as a time."""
    spans = record.get("spans", [])
    totals, kids = _subtree_totals(spans)
    by_id = {s["id"]: s for s in spans}
    traced_ops = {o["id"] for o in record["ops"] if o["traced"] and o["ok"]}
    tops = [s for s in spans if s["parent"] == -1 and s["op"] in traced_ops]
    n = len(tops) or 1

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    def named(name, within=None):
        return [s for s in spans if s["name"] == name and (within is None or s["op"] in within)]

    def mean_total(key):
        return sum(totals[s["id"]][key] for s in tops) / n

    wall = sum(dur(s) for s in tops)
    setup_ms = record["setup_s"] * 1e3

    def share(name, of_setup=False):
        within = None if of_setup else traced_ops
        part = sum(dur(s) for s in named(name, within))
        whole = setup_ms if of_setup else wall
        return part / whole if whole else 0.0

    run_ms = sum(totals[s["id"]]["run_ms"] for s in tops)
    cpu_ms = sum(totals[s["id"]]["cpu_ms"] for s in tops)
    kernel_cpu = sum(totals[s["id"]]["cpu_ms"] for s in tops if totals[s["id"]]["kernel_queries"])
    build = named("queries.build", traced_ops)
    loads = named("etl.load")
    load_ms = sum(dur(s) for s in loads)
    load_run = sum(totals[s["id"]]["run_ms"] for s in loads)
    traced = requests(record, traced=True)
    plain = requests(record)
    m = {
        "queries.build_share": share("queries.build"),
        "queries.build_jobs": _mean([totals[s["id"]]["jobs"] for s in build]),
        "sources.schema_jobs": mean_total("schema_jobs"),
        "plans.analysis_ms": mean_total("analysis_ms"),
        "plans.optimization_ms": mean_total("optimization_ms"),
        "plans.planning_ms": mean_total("planning_ms"),
        "plans.codegen_compiles": sum(s["codegen_compiles"] for s in tops) / n,
        "plans.aqe_replans": mean_total("aqe_replans"),
        "plans.exchanges": mean_total("exchanges"),
        "scheduler.jobs": mean_total("jobs"),
        "scheduler.stages": mean_total("stages"),
        "scheduler.tasks": mean_total("tasks"),
        "scheduler.idle_ms": (wall - run_ms / cores) / n,
        "scheduler.busy_ratio": run_ms / (wall * cores) if wall else 0.0,
        "executor.run_ms": run_ms / n,
        "executor.cpu_ms": cpu_ms / n,
        "executor.gc_ms": mean_total("gc_ms"),
        "executor.scan_bytes": mean_total("scan_bytes"),
        "executor.shuffle_read_bytes": mean_total("shuffle_read_bytes"),
        "executor.shuffle_write_bytes": mean_total("shuffle_write_bytes"),
        "executor.spill_bytes": mean_total("spill_bytes"),
        "executor.peak_mem_bytes": max([totals[s["id"]]["peak_mem_bytes"] for s in tops] or [0]),
        "executor.failed_tasks": mean_total("failed_tasks"),
        "functions.kernel_queries": mean_total("kernel_queries"),
        "functions.kernel_cpu_share": kernel_cpu / cpu_ms if cpu_ms else 0.0,
        "etl.load_share": share("etl.load", of_setup=True),
        "etl.build_share": share("etl.build", of_setup=True),
        "etl.load_busy_ratio": load_run / (load_ms * cores) if load_ms else 0.0,
        "txn.overwrite_share": share("txn.overwrite", of_setup=True),
        "txn.merge_share": share("txn.merge"),
        "txn.delete_share": share("txn.delete"),
        "txn.compact_share": share("txn.compact"),
        "txn.read_share": share("txn.read"),
        "client.self_ms": _mean([self_time(
            (s["start_ms"], s["end_ms"]),
            [(by_id[k]["start_ms"], by_id[k]["end_ms"]) for k in kids.get(s["id"], [])])
            for s in tops]),
        "unattributed.jobs": record.get("unattributed", {}).get("jobs", 0),
        "unattributed.tasks": record.get("unattributed", {}).get("tasks", 0),
        "trace.overhead_ms": geomean(traced) - geomean(plain) if traced and plain else 0.0,
    }
    m["trace.overhead_ratio"] = m["trace.overhead_ms"] / geomean(plain) if plain else 0.0
    return m


def etl_details(record):
    """star_etl storage and load figures from the run record; versions and
    bytes written are per committed batch."""
    txn = record.get("txn")
    if not txn:
        return {}
    stats = record.get("batch_stats", [])
    merged = [b for b in stats if not b["compacted"]]
    done = max(record["batches_done"], 1)
    return {
        "initial_load_s": record["initial_load_s"],
        "etl.stored_bytes_per_input_byte": txn["table_bytes"] / txn["input_bytes"],
        "txn.versions": (txn["versions"] - 1) / done,
        "txn.live_files": txn["live_files"],
        "txn.bytes_written": sum(b["new_bytes"] for b in stats) / done,
        "txn.rewrite_ratio": (sum(b["new_bytes"] for b in merged) /
                              sum(b["input_bytes"] for b in merged)) if merged else 0.0,
    }
