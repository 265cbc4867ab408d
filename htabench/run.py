#!/usr/bin/env python3
"""HTA benchmark: one command, two workloads, every metric by name and unit.

Usage (from the repository root):
  python3 htabench/run.py --workload {hta-serve,pipeline} \
      --seed N --seconds S --trace {0,1} [--plant-failure CLASS]

Builds the engine and the benchmark from source (htabench/build.sh), runs the
workload in one JVM at local[4] with one closed-loop client, checks every
output, and prints the workload's named metrics as a `detail` line and, last,
one JSON object: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Exits non-zero when any output check fails.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hta-serve", "pipeline")
OPS = ("ingest", "stream", "flex", "aggregate", "raw", "sql", "append", "pipeline")
READS = ("flex", "aggregate", "raw", "sql")
FAMILIES = ("Analytics", "Ann", "Dedup", "Hta", "Multimodal", "Relational", "Series", "Text")
LAYERS = ("store", "hta.AggOps", "hta.RetrieveFlex", "hta.Telescope", "hta.Queries",
          "plans.RollupRouting", "streaming.StreamIngest", "registry", "pipeline.Dedup",
          "pipeline.Ann", "pipeline.TextOps", "pipeline.Graph", "pipeline.Relational",
          "pipeline.Series", "pipeline.Multimodal", "bench")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    xs = sorted(xs)
    if len(xs) <= 10:
        return (xs[-1] if xs else 0.0), 100.0 * (len(xs) - 1) / max(1, len(xs))
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def build():
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("htabench: build failed")


def run_jvm(args, work):
    with open(os.path.join(ROOT, ".bench_build", "spark-jars")) as f:
        jars = os.path.join(f.read().strip(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(ROOT, ".bench_build", "classes") + os.pathsep + jars,
            "htabench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.plant_failure:
        cmd += ["--plant-failure", args.plant_failure]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"htabench: engine run failed ({rc})")
    with open(os.path.join(work, f"record-{args.workload}.json")) as f:
        return json.load(f)


def oracle_check(record):
    """DuckDB runs each pipeline query's oracle SQL over the same tables, and
    every result the run wrote must match it: same columns and rows, values
    exact except floats, which must agree to 1e-9 relative. Marks each
    mismatching op failed."""
    import duckdb
    import pyarrow.parquet as pq
    extra = record["extra"]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(extra["data"], "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(extra["oracle_sql"]) as f:
        oracle = json.load(f)

    def norm(v):
        if isinstance(v, float):
            return ("f", v)
        if isinstance(v, (list, tuple)):
            return ("l", tuple(norm(x) for x in v))
        if isinstance(v, dict):
            return ("d", tuple(sorted((k, norm(x)) for k, x in v.items())))
        return ("v", str(v)) if v is not None else ("n", "")

    def same(a, b):
        if a[0] == "f" and b[0] == "f":
            x, y = a[1], b[1]
            return x == y or (x != x and y != y) or abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
        if a[0] in "ld" and a[0] == b[0]:
            return len(a[1]) == len(b[1]) and all(same(x, y) for x, y in zip(a[1], b[1]))
        return a == b

    def rows(table, cols):
        return sorted((tuple(norm(r[c]) for c in cols) for r in table.to_pylist()), key=repr)

    expected = {}
    for o in record["ops"]:
        q = o["notes"].get("query")
        if not o["ok"] or q is None:
            continue
        if q not in expected:
            try:
                want = con.execute(oracle[q]).arrow()
                expected[q] = (sorted(want.schema.names), want)
            except Exception as e:  # noqa: BLE001 - a failing oracle fails the check
                expected[q] = (None, f"oracle error: {str(e)[:160]}")
        cols, want = expected[q]
        got = pq.read_table(o["notes"]["result"])
        err = None
        if cols is None:
            err = want
        elif sorted(got.schema.names) != cols:
            err = f"columns {sorted(got.schema.names)} vs {cols}"
        elif got.num_rows != want.num_rows:
            err = f"rows {got.num_rows} vs {want.num_rows}"
        else:
            for i, (a, b) in enumerate(zip(rows(got, cols), rows(want, cols))):
                if not all(same(x, y) for x, y in zip(a, b)):
                    err = f"row {i}: {a} vs {b}"[:200]
                    break
        if err:
            o["ok"], o["err"] = False, f"oracle: {err}"


def metrics(record):
    """The end-to-end set (the same names on every workload) and the
    workload's own named metrics, from the ops that passed their checks."""
    ops = record["ops"]
    ok = [o for o in ops if o["ok"]]
    lat = {c: [o["latency_s"] for o in ok if o["cls"] == c] for c in OPS}
    extra = record["extra"]
    wl = record["workload"]
    setup_s = median(record["setup_s"])
    d = {"setup_s": (setup_s, "s"),
         "ops_failed_frac": ((len(ops) - len(ok)) / max(1, len(ops)), "1")}

    if wl == "hta-serve":
        reads = [x for c in READS for x in lat[c]]
        batches = [b for o in ok if o["cls"] == "stream" for b in o["notes"]["batches"]]
        ingest = [o for o in ok if o["cls"] == "ingest"]
        d["ingest_points_per_s"] = (median([o["notes"]["points"] / o["latency_s"]
                                            for o in ingest]), "1/s")
        d["stream_points_per_s"] = (median([o["notes"]["points"] / o["latency_s"]
                                            for o in ok if o["cls"] == "stream"]), "1/s")
        d["stream_batch_p50_s"] = (median([b["triggerExecution_ms"] / 1e3 for b in batches]), "s")
        for c in READS + ("append", "stream"):
            d[f"{c}_p50_s"] = (median(lat[c]), "s")
        t, pct = tail(reads)
        d["read_tail_s"] = (t, "s")
        d["read_tail_pct"] = (pct, "%")
        d["reads_per_s"] = (len(reads) / sum(reads) if reads else 0.0, "1/s")
        d["store_bytes_per_point"] = (extra["store_bytes_per_point"], "B")
        class_p50 = [median(lat[c]) for c in READS + ("append", "stream") if lat[c]]
        items, work_s = len(reads), sum(reads)
    else:
        pl = lat["pipeline"]
        t, pct = tail(pl)
        d["pipeline_p50_s"] = (median(pl), "s")
        d["pipeline_tail_s"] = (t, "s")
        d["pipeline_tail_pct"] = (pct, "%")
        per_pass = {}
        for o in ops:
            p = per_pass.setdefault(o["notes"]["pass"], [0.0, True])
            p[0] += o["latency_s"]
            p[1] = p[1] and o["ok"]
        clean = [s for s, good in per_pass.values() if good]
        # no pass without a failed op: no total (never a time from a failure)
        d["pipeline_total_s"] = (median(clean) if clean else None, "s")
        fam = {}
        for o in ok:
            fam.setdefault(o["notes"]["family"], []).append(o["latency_s"])
        class_p50 = [median(v) for v in fam.values()]
        items, work_s = len(pl), sum(pl)

    # one whole unit: the median of each op of the unit (each read by its
    # place in the unit, the append, the stream; each query), summed
    kinds = {}
    for o in ok:
        if o["cls"] != "ingest":
            kinds.setdefault(o["notes"].get("pair", o["cls"]), []).append(o["latency_s"])
    e2e = {"setup_s": (setup_s, "s"),
           "class_p50_geomean_s": (geomean(class_p50), "s"),
           "work_per_s": (items / work_s if work_s > 0 else 0.0, "1/s"),
           "unit_s": (sum(median(v) for v in kinds.values()), "s")}
    d["samples"] = (len(ok), "count")
    return e2e, d


def layer_metrics(record):
    ops = [o for o in record["ops"] if o["ok"]]
    traced = [o for o in ops if o["traced"] and o["trace"]]
    extra = record["extra"]
    cores = record["host"]["cores"]
    m = {}
    for c in OPS:
        ts = [o for o in traced if o["cls"] == c]
        tr = [o["trace"] for o in ts]
        rows = sum(o["notes"].get("rows", o["notes"].get("points", 0)) for o in ts)
        wall = sum(o["latency_s"] for o in ts)
        m[f"{c}.construct_s"] = (median([o["construct_s"] for o in ts]), "s")
        m[f"{c}.execute_s"] = (median([o["execute_s"] for o in ts]), "s")
        m[f"{c}.jobs"] = (median([t["jobs"] for t in tr]), "count")
        m[f"{c}.stages"] = (median([t["stages"] for t in tr]), "count")
        m[f"{c}.tasks"] = (median([t["tasks"] for t in tr]), "count")
        m[f"{c}.scan_per_row"] = (sum(t["input_records"] for t in tr) / rows if rows else 0.0,
                                  "1")
        m[f"{c}.shuffle_bytes"] = (median([t["shuffle_bytes"] for t in tr]), "B")
        m[f"{c}.spill_bytes"] = (median([t["spill_bytes"] for t in tr]), "B")
        m[f"{c}.busy_frac"] = (sum(t["task_ms"] for t in tr) / 1e3 / (wall * cores)
                               if wall else 0.0, "1")
        m[f"{c}.sched_wait_s"] = (median([t["sched_wait_ms"] / 1e3 for t in tr]), "s")

    # ingest phases, read off the SQL executions inside Warehouse.ingest:
    # after the monotonicity check (a count), the first parquet write is
    # raw, the second level 0, then one per rollup level, then the catalog
    phase = {"raw_write": [], "level0": [], "rollup": []}
    for o in traced:
        if o["cls"] != "ingest":
            continue
        writes = [x for x in o["trace"]["executions"] if x["call_site"].startswith("parquet at")]
        acc = {k: 0.0 for k in phase}
        for i, x in enumerate(writes):
            k = "raw_write" if i == 0 else "level0" if i == 1 else \
                "rollup" if i < len(writes) - 1 else None
            if k:
                acc[k] += x["ms"] / 1e3
        for k in phase:
            phase[k].append(acc[k])
    for k, v in phase.items():
        m[f"ingest.{k}_s"] = (median(v), "s")

    batches = [b for o in ops if o["cls"] == "stream" for b in o["notes"]["batches"]]
    for k in ("addBatch", "queryPlanning", "walCommit"):
        m[f"stream.{k}_s"] = (median([b[f"{k}_ms"] / 1e3 for b in batches]), "s")
    lv = [b for b in batches if b["sink"] == "level"]
    m["stream.state_rows"] = (max([b["state_rows"] for b in lv], default=0), "count")
    m["stream.state_bytes"] = (max([b["state_bytes"] for b in lv], default=0), "B")

    m["flex.probe_jobs"] = (median([o["trace"]["construct_jobs"] for o in traced
                                    if o["cls"] == "flex"]), "count")
    sql = [o for o in ops if o["cls"] == "sql"]
    m["sql.routed_frac"] = (sum(1 for o in sql if o["notes"].get("routed")) / len(sql)
                            if sql else 0.0, "1")
    app = [o for o in ops if o["cls"] == "append"]
    m["sql.install_s"] = (median([o["notes"]["install_s"] for o in app]), "s")
    m["append.files_added"] = (median([o["notes"]["files_added"] for o in app]), "count")
    m["serve.store_files"] = (extra.get("store_files", 0), "count")

    pl = [o for o in ops if o["cls"] == "pipeline"]
    for fam in FAMILIES:
        per_q = {}
        for o in pl:
            if o["notes"]["family"] == fam:
                per_q.setdefault(o["notes"]["query"], []).append(o["latency_s"])
        m[f"pipeline.{fam}_s"] = (sum(median(v) for v in per_q.values()), "s")

    n = max(1, len(traced))
    for layer in LAYERS:
        ms = sum(o["trace"]["layer_ms"].get(layer, 0) for o in traced)
        m[f"layer.{layer}.job_s"] = (ms / 1e3 / n, "s")

    # tracing overhead: the traced run makes each read (each query, on
    # pipeline) twice, traced once; geometric mean of traced over untraced
    pairs = {}
    for o in ops:
        if "pair" in o["notes"]:
            pairs.setdefault(o["notes"]["pair"], {})[o["traced"]] = o["latency_s"]
    ratios = [p[True] / p[False] for p in pairs.values() if True in p and False in p]
    m["trace.overhead_frac"] = (geomean(ratios) - 1.0 if ratios else 0.0, "1")
    m["store.bytes_per_point"] = (extra.get("store_bytes_per_point", 0.0), "B")
    m["ops.failed_frac"] = ((len(record["ops"]) - len(ops)) / max(1, len(record["ops"])), "1")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", default=None,
                    help="self-test: check the first op of this class against a wrong value")
    args = ap.parse_args()

    build()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = run_jvm(args, work)

    if args.workload == "pipeline":
        oracle_check(record)
    failed = [o for o in record["ops"] if not o["ok"]]
    for o in failed[:20]:
        sys.stderr.write(f"htabench: op {o['id']} {o['cls']} failed: {o['err'][:300]}\n")

    e2e, named = metrics(record)
    layers = layer_metrics(record) if args.trace else None
    out = layers or e2e
    detail = {"workload": args.workload, "host": record["host"],
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
              "failed_ops": [{"id": o["id"], "cls": o["cls"], "err": o["err"][:200]}
                             for o in failed]}
    if args.trace:
        detail["spans"] = os.path.relpath(
            os.path.join(work, f"spans-{args.workload}.json"), ROOT)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"detail": detail, "end_to_end": e2e, "per_layer": layers}, f)
    # keep the records and spans; drop the stores and tables
    for p in glob.glob(os.path.join(work, "*")):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    correct = not failed
    print(json.dumps({"correct": correct, "attempted": len(record["ops"]),
                      "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
