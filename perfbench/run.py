#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.sbt, output under .bench_build/); later
runs reuse the build while the sources are unchanged. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing written next to the sources

import etlgen  # noqa: E402
import metrics  # noqa: E402

# The query panel: a fixed subset of SparkEntry.queries, run whole in every
# pass (see README.md, "Why a panel"). Queries that keep derived tables
# outside the run directory are not eligible.
PANEL = [
    "q01_scan_project", "q02_filter_pred", "q10_groupby_first", "q11_join_left",
    "q17_agg_sum", "q30_token_freq", "q58_kmv_sketch", "q74_ngram_jaccard",
    "q126_item_similarity", "q128_golden_record", "q188_greedy_set_cover",
]
# warmups: untimed passes (queries) or days (star_etl) that end set-up, so
# the timed loop starts on a JIT-warm JVM
WORKLOADS = {
    "queries_sf0.001": {"mode": "queries", "sf": "sf0.001", "warmups": 1},
    "queries_sf0.1": {"mode": "queries", "sf": "sf0.1", "warmups": 1},
    "star_etl": {"mode": "etl", "warmups": 2},
}
# the harness gets this long for set-up and checks, on top of --seconds
JVM_SLACK_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def testdata_root():
    """The read-only parquet testdata (TESTDATA.md)."""
    return os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))


def source_stamp():
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine plus harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at src/main/scala; run from a checkout root")
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile) ...")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".bench_build" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, run_dir, args, timeout):
    """Run the harness main, killing it after ``timeout`` seconds; its record
    is run_dir/run.json."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap and young generation keep the peak RSS from following
    # the GC's heap-expansion decisions, which moved it by ~25% run to run
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--out", run_dir] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    path = os.path.join(run_dir, "run.json")
    if code != 0 or not os.path.exists(path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(path) as f:
        return json.load(f)


def query_order(seed, passes=200):
    """The verify pass in panel order, then one seeded permutation per pass."""
    rng = random.Random(seed)
    order = [list(PANEL)]
    for _ in range(passes):
        p = list(PANEL)
        rng.shuffle(p)
        order.append(p)
    return order


def check_queries(run_dir, sf_dir):
    """Oracle-compare the verify dumps with DuckDB via tools/selfcheck.py;
    returns the names of the queries that do not match."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        selfcheck.main(sf_dir, os.path.join(run_dir, "verify"))
    return sorted({line.split()[1].rstrip(":") for line in buf.getvalue().splitlines()
                   if line.startswith("✗")})


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if v is None or isinstance(v, (int, str)):
        return v
    return str(v)


def _table_rows(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = t.column_names
    data = [t.column(c).to_pylist() for c in cols]
    return sorted((tuple(_canon(v) for v in row) for row in zip(*data)), key=repr)


def check_etl(run_dir, model, record):
    """Compare the final tables and every analytic answer with the model;
    returns a list of mismatch descriptions."""
    done = record["batches_done"]
    fact, clients, answers = etlgen.apply_batches(model, done)
    bad = []
    expected = {"Dim_Product": model.dim_product, "Dim_Store": model.dim_store,
                "Dim_Client": clients, "Fact_Sales": list(fact.values())}
    for name, rows in expected.items():
        got = _table_rows(os.path.join(run_dir, "verify", name))
        want = sorted((tuple(_canon(v) for v in r) for r in rows), key=repr)
        if got != want:
            bad.append(f"table {name}: {len(got)} rows vs {len(want)} expected")
    with open(os.path.join(run_dir, "answers.json")) as f:
        got_answers = json.load(f)
    for i, (got, want) in enumerate(zip(got_answers, answers)):
        if got is not None and [list(map(_canon, r)) for r in got] != want:
            bad.append(f"analytic {model.batches[i]['analytic']} after batch {i + 1}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    timeout = JVM_SLACK_S + a.seconds
    common = ["--seconds", str(a.seconds), "--trace", str(a.trace), "--warmups", str(w["warmups"])]

    if w["mode"] == "queries":
        sf_dir = os.path.join(testdata_root(), w["sf"])
        if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
            raise SystemExit(f"perfbench: testdata not found at {sf_dir} (set GRAFT_TESTDATA)")
        order = os.path.join(run_dir, "order.txt")
        with open(order, "w") as f:
            f.write("\n".join(",".join(p) for p in query_order(a.seed)) + "\n")
        record = run_jvm(cp, run_dir, ["--mode", "queries", "--data", sf_dir, "--order", order] + common,
                         timeout)
        bad = check_queries(run_dir, sf_dir)
        checked = 0  # the verify pass is counted in the record
    else:
        data = os.path.join(run_dir, "input")
        model = etlgen.generate(a.seed, data)
        record = run_jvm(cp, run_dir, ["--mode", "etl", "--data", data,
                                       "--cycle", str(etlgen.Sizes().erase_every)] + common,
                         timeout)
        bad = check_etl(run_dir, model, record)
        checked = 4  # the final tables

    # a query whose verify pass threw has no dump, so selfcheck reports it in `bad`
    attempted = record["attempted"] + checked
    failed = sum(1 for o in record["ops"] if not o["ok"]) + len(bad)
    for e in record["errors"] + bad:
        log(f"FAILED: {e}")

    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "error_rate": failed / attempted, "mismatches": bad,
               "latency": metrics.details(record), "settings": record["settings"],
               "host": record["host"], "source_stamp": source_stamp()}
    if w["mode"] == "etl":
        summary.update(metrics.etl_details(record))
    if a.trace:
        values = metrics.per_layer(record, int(record["settings"]["cores"]))
        values.update(metrics.etl_details(record))
        values["run.error_rate"] = failed / attempted
    else:
        values = metrics.end_to_end(record)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer" if a.trace else "end_to_end"]
    if a.trace:  # storage counters of a workload that writes no tables read 0
        values = {m["name"]: 0.0 for m in names} | values
    out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    summary["metrics"] = out_metrics
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, default=str)
    log(json.dumps({k: v for k, v in summary.items() if k not in ("settings", "host")}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
