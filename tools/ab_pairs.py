#!/usr/bin/env python3
"""Run the benchmark as alternating parent/change pairs and compare them.

    python3 tools/ab_pairs.py --parent <checkout> --change <checkout> \\
        --workload star_etl --seeds 1001-1010 [--seconds 15] [--trace 0] [--json out.json]

Each pair runs `python3 perfbench/run.py` once in each checkout on the same
seed. The side that goes first alternates from pair to pair, so a drift of
the host over time weighs on both sides alike. For every metric that
BENCHMARK.json declares for the chosen trace mode, the report gives:

- the median of each side and the parent's quartile spread (Q3 - Q1);
- the pairs the change won, lost and tied (better = lower or higher, as the
  metric declares);
- the change/parent ratio of the medians and, for end-to-end metrics, how far
  the change is worse than the parent against the metric's bound.

For star_etl, the same comparison of `initial_load_s` (read from each run's
run.json) is printed under `setup_s`, so a set-up change splits into the
initial load and the rest.

The runs' correctness (failed operations over attempted ones) is reported too,
and so is each operation's median latency on each side (per query, or per
batch and analytic), read from every run's record, so a claim can show which
operation moved. The tool reads only the change checkout's BENCHMARK.json,
and runs each checkout's own perfbench/run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; its result line, or None when the run failed."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def run_record(checkout, workload, trace):
    """The run.json of the run that just finished in `checkout`, or {}."""
    path = os.path.join(checkout, ".bench_build", "runs", f"{workload}-trace{trace}", "run.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def op_latencies(record):
    """Latencies (ms) of a run's timed, untraced operations, by operation:
    `query <name>`, `batch` (one file a day, so batches pool) or
    `analytic <name>`."""
    out = {}
    for o in record.get("ops", []):
        if o["ok"] and not o["traced"] and not o["warmup"]:
            key = o["kind"] if o["kind"] == "batch" else f"{o['kind']} {o['name']}"
            out.setdefault(key, []).append(o["ms"])
    return out


def op_report(runs):
    """Per operation: each side's median latency over all its runs' samples."""
    pooled = {}
    for r in runs:
        for key, xs in r["op_ms"].items():
            pooled.setdefault(key, {"parent": [], "change": []})[r["side"]].extend(xs)
    rows = []
    for key, sides in sorted(pooled.items()):
        mp = statistics.median(sides["parent"]) if sides["parent"] else None
        mc = statistics.median(sides["change"]) if sides["change"] else None
        rows.append({"op": key, "parent_median_ms": mp, "change_median_ms": mc,
                     "parent_n": len(sides["parent"]), "change_n": len(sides["change"]),
                     "ratio": mc / mp if mp and mc is not None else None})
    return rows


def spread(xs):
    """Q3 - Q1 (the statistics module's default 'exclusive' quartiles)."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def compare(m, par, chg):
    """One report row: metric `m` over paired parent/change values."""
    lower = m["better"] == "lower"
    wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
    ties = sum(1 for a, b in zip(par, chg) if a == b)
    mp, mc = statistics.median(par), statistics.median(chg)
    ratio = mc / mp if mp else float("nan")
    row = {"metric": m["name"], "unit": m["unit"], "better": m["better"],
           "parent_median": mp, "change_median": mc, "parent_spread": spread(par),
           "median_gap": abs(mc - mp), "wins": wins, "ties": ties,
           "losses": len(par) - wins - ties, "pairs": len(par), "ratio": ratio}
    if "bound" in m and mp:
        worse = (ratio - 1.0) if lower else (1.0 - ratio)
        row.update(bound=m["bound"], worse_by=worse, within_bound=worse <= m["bound"])
    return row


def report(spec_metrics, pairs):
    ok = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not ok:
        return []
    return [compare(m, [p["metrics"][m["name"]]["value"] for p, _ in ok],
                    [c["metrics"][m["name"]]["value"] for _, c in ok]) for m in spec_metrics]


def load_report(runs):
    """star_etl's initial load (run.json `initial_load_s`, part of `setup_s`)
    over the pairs where both sides recorded it, so a `setup_s` change can be
    split into the load and the rest; None for workloads without it."""
    by_seed = {}
    for r in runs:
        if r.get("initial_load_s") is not None:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r["initial_load_s"]
    both = [v for v in by_seed.values() if len(v) == 2]
    if not both:
        return None
    return compare({"name": "initial_load_s", "unit": "s", "better": "lower"},
                   [v["parent"] for v in both], [v["change"] for v in both])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range, e.g. 1001-1010")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="write every run's result line and the report here")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    spec_metrics = spec["per_layer" if a.trace else "end_to_end"]

    pairs, runs = [], []
    for i, seed in enumerate(seed_range(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(checkout, a.workload, seed, a.seconds, a.trace)
            record = run_record(checkout, a.workload, a.trace) if got[side] else {}
            runs.append({"seed": seed, "side": side, "result": got[side],
                         "op_ms": op_latencies(record),
                         "initial_load_s": record.get("initial_load_s")})
            r = got[side]
            summary = "FAILED RUN" if r is None else " ".join(
                f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in spec_metrics[:5])
            print(f"[ab] seed {seed} {side}: {summary}", file=sys.stderr, flush=True)
        pairs.append((got["parent"], got["change"]))

    def fail_share(side):
        rs = [r["result"] for r in runs if r["side"] == side]
        done = [r for r in rs if r is not None]
        attempted = sum(r["attempted"] for r in done)
        failed = sum(r["failed"] for r in done)
        return {"runs": len(rs), "runs_failed": len(rs) - len(done), "attempted": attempted,
                "failed": failed, "failed_share": failed / attempted if attempted else None}

    rows = report(spec_metrics, pairs)
    load = load_report(runs)
    correctness = {"parent": fail_share("parent"), "change": fail_share("change")}
    print(f"{a.workload}, seeds {a.seeds}, --seconds {a.seconds:g} --trace {a.trace}")
    for side, c in correctness.items():
        print(f"  {side}: {c['runs']} runs ({c['runs_failed']} failed to run), "
              f"{c['failed']}/{c['attempted']} operations failed")
    print(f"{'metric':34} {'parent':>12} {'change':>12} {'ratio':>7} {'P spread':>10} "
          f"{'gap':>10} {'W/T/L':>8}  bound")
    shown = []
    for r in rows:
        shown.append(r)
        if r["metric"] == "setup_s" and load is not None:
            shown.append(dict(load, metric="  initial_load_s (run.json)"))
    for r in shown:
        wtl = f"{r['wins']}/{r['ties']}/{r['losses']}"
        bound = ""
        if "bound" in r:
            bound = (f"worse by {r['worse_by']:+.3f} vs {r['bound']} "
                     f"({'within' if r['within_bound'] else 'OUTSIDE'})")
        print(f"{r['metric']:34} {r['parent_median']:12.4g} {r['change_median']:12.4g} "
              f"{r['ratio']:7.3f} {r['parent_spread']:10.4g} {r['median_gap']:10.4g} "
              f"{wtl:>8}  {bound}")
    ops = op_report(runs)
    print(f"\n{'operation (median ms)':34} {'parent':>12} {'change':>12} {'ratio':>7} {'n P/C':>10}")
    for r in ops:
        def ms(v):
            return f"{v:12.1f}" if v is not None else f"{'-':>12}"
        ratio = f"{r['ratio']:7.3f}" if r["ratio"] is not None else f"{'-':>7}"
        print(f"{r['op']:34} {ms(r['parent_median_ms'])} {ms(r['change_median_ms'])} {ratio} "
              f"{str(r['parent_n']) + '/' + str(r['change_n']):>10}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
                       "trace": a.trace, "runs": runs, "correctness": correctness,
                       "report": rows, "initial_load": load, "operations": ops}, f, indent=1)


if __name__ == "__main__":
    main()
