#!/usr/bin/env python3
"""The benchmark's one command. Run it from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

It compiles the repository (build.py), generates the workload's inputs from
the seed (datagen.py), runs the JVM half (src/graft/perfbench/Main.scala)
on them, checks the outputs against DuckDB, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones from
the traced run. A fuller record of each run, stamped with its seed, the
load average before and after and the CPU steal during the run, goes to
.bench_build/results/. README.md defines every metric.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

RUN_SECONDS = 30
# Scale factor of the generated tables, per workload.
SCALE = {"queries": 0.01, "etl_daily": 0.1}
HEAP = "3g"
JVM_TIMEOUT_S = 150
# etl_daily traffic (README.md, "Workloads"). The reference's daily update
# is append-only: it fetches the trade dates after the watermark. The one
# revision per day is the smallest count that runs MERGE's update arm on
# every daily call. The day count and the history length are sized to the
# run-time budget, not taken from any measured traffic.
ETL_DAYS = 20
ETL_REVISIONS_PER_DAY = 1
ETL_HISTORY_DAYS = 300
WORKLOADS = ("queries", "etl_daily")

E2E = ("setup_s", "total_s", "op_geomean_ms")
QUERY_LAYERS = (
    "build_ms", "build_jobs", "plan_ms", "plan_analysis_ms", "plan_optimization_ms",
    "plan_planning_ms", "exec_ms", "exec_jobs", "exec_stages", "exec_tasks",
    "exec_idle_ms", "task_wait_ms", "task_cpu_ms", "task_run_ms", "task_gc_ms",
    "spill_bytes", "shuffle_write_bytes", "shuffle_read_bytes", "peak_exec_mem_bytes",
    "agg_fallbacks", "input_bytes", "result_rows")
ETL_LAYERS = (
    "stage_write_ms", "stage_rows", "stage_batches", "dedup_ms", "merge_ms", "merge_rows",
    "rows_inserted", "rows_updated", "wm_read_ms", "delta_scan_ms", "delta_source_scans",
    "cleanup_ms", "jdbc_statements", "jdbc_connections")
LAYERS = QUERY_LAYERS + ETL_LAYERS + ("heap_peak_mb", "trace_overhead_pct")

# The module opens build.sbt gives forked JVMs: Spark on JDK 17 needs them
# when it is started outside spark-submit.
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def unit(metric):
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_bytes", "bytes"), ("_mb", "MiB"),
                      ("_pct", "%")):
        if metric.endswith(suffix):
            return u
    return "count"


def cpu_times():
    """Aggregate /proc/stat CPU counters (user … steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def steal_pct(before, after):
    """Share of all CPU time the hypervisor gave to other guests."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_jvm(classes, work, data, args):
    out = os.path.join(work, "record.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
        "graft.perfbench.Main", "--workload", args.workload, "--data", data,
        "--work", work, "--out", out, "--trace", str(args.trace), "--seed", str(args.seed)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def by_key(items, key):
    out = {}
    for it in items:
        out.setdefault(it[key], []).append(it)
    return out


def query_results(rec, data, trace):
    """(attempted, failed, end-to-end, per-layer, notes) of a query workload."""
    runs = rec["runs"]
    expected = oracle.row_counts(data, rec["oracle"])
    bad = []
    for name, rs in by_key(runs, "name").items():
        rows = {r.get("rows") for r in rs}
        if not all(r["ok"] and r["kept"] for r in rs) or len(rows) != 1 \
                or (name in expected and expected[name] != rows.pop()):
            bad.append(name)
    failed = sum(1 for r in runs if r["name"] in bad or not r["ok"])
    ok = [r for r in runs if r["ok"]]
    # Untraced timed rounds give the end-to-end figures. Round 0 is the
    # warm-up; in a traced run rounds 2 and 4 are traced.
    plain = [r for r in ok if not r["traced"] and r["round"] > 0]
    per_query = {n: M.median([r["wall_ms"] for r in rs]) for n, rs in by_key(plain, "name").items()}
    samples = [r["wall_ms"] for r in plain]
    tail, tail_p = M.tail(samples)
    e2e = {"setup_s": M.median(rec["setup_s"]), "total_s": sum(per_query.values()) / 1000.0,
           "op_geomean_ms": M.geomean(list(per_query.values()))}
    notes = {"queries": len(per_query), "samples": len(samples), "p50_ms": M.median(samples),
             "tail_ms": tail, "tail_percentile": tail_p,
             "rounds": rec["rounds"], "wrong_or_failed_queries": sorted(bad),
             "oracle_checked": sorted(set(expected) & set(per_query)),
             "per_query_ms": {n: [r["wall_ms"] for r in rs]
                              for n, rs in sorted(by_key(plain, "name").items())},
             "per_query_cpu_ms": {n: [r["cpu_ms"] for r in rs]
                                  for n, rs in sorted(by_key(plain, "name").items())}}
    layers = {}
    if trace:
        layers = query_layers(rec, [r for r in ok if r["traced"]])
        traced = {n: M.median([r["wall_ms"] for r in rs])
                  for n, rs in by_key([r for r in ok if r["traced"]], "name").items()}
        both = set(per_query) & set(traced)
        base = sum(per_query[n] for n in both)
        layers["trace_overhead_pct"] = (
            100.0 * (sum(traced[n] for n in both) / base - 1) if base else 0.0)
    return len(runs), failed, e2e, layers, notes


def query_layers(rec, traced_runs):
    ops = rec.get("ops", {})
    spans = by_key([s for s in rec.get("spans", []) if s["name"] == "exec"], "op")

    def op(r, phase):
        return ops.get(f"{r['op']}/{phase}", {})

    def per_run(r):
        phases = [op(r, p) for p in ("build", "plan", "exec")]
        ex = op(r, "exec")
        idle = 0.0
        for s in spans.get(r["op"], []):
            idle += M.idle_time(s["start"], s["end"], ex.get("task_intervals", []))

        def total(k):
            return sum(p.get(k, 0) for p in phases)
        return {
            "build_ms": r["build_ms"], "build_jobs": op(r, "build").get("jobs", 0),
            "plan_ms": r["plan_ms"], "plan_analysis_ms": r["analysis_ms"],
            "plan_optimization_ms": r["optimization_ms"], "plan_planning_ms": r["planning_ms"],
            "exec_ms": r["exec_ms"], "exec_jobs": ex.get("jobs", 0),
            "exec_stages": ex.get("stages", 0), "exec_tasks": ex.get("tasks", 0),
            "exec_idle_ms": idle, "task_wait_ms": ex.get("task_wait_ms", 0),
            "task_cpu_ms": total("task_cpu_ms"), "task_run_ms": total("task_run_ms"),
            "task_gc_ms": total("task_gc_ms"), "spill_bytes": total("spill_bytes"),
            "shuffle_write_bytes": total("shuffle_write_bytes"),
            "shuffle_read_bytes": total("shuffle_read_bytes"),
            "peak_exec_mem_bytes": total("peak_exec_mem_bytes"),
            "agg_fallbacks": r["agg_fallbacks"], "input_bytes": total("input_bytes"),
            "result_rows": r["rows"]}

    rows = {n: [per_run(r) for r in rs] for n, rs in by_key(traced_runs, "name").items()}
    out = {k: sum(M.median([x[k] for x in xs]) for xs in rows.values()) for k in QUERY_LAYERS}
    out["heap_peak_mb"] = rec["heap_peak_mb"]
    return out


def self_ms_by_span(spans):
    """Total self time per span name over the traced ops."""
    self_ms = M.self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_ms[s["id"]]
    return out


def etl_results(rec, data, work, trace):
    calls = rec["calls"]
    deltas = [c for c in calls if c["kind"] == "delta"]
    noops = [c for c in calls if c["kind"] == "noop"]
    refresh = [c for c in calls if c["kind"] == "refresh"][0]
    check = oracle.etl_check(data, work, deltas, noops, refresh)
    failed = len(set(check["failed_calls"])) if check["content_ok"] else len(calls)
    plain = [c for c in deltas if not c["traced"]]
    d_ms = [c["ms"] for c in plain]
    tail, tail_p = M.tail(d_ms)
    e2e = {"setup_s": M.median(rec["setup_s"]),
           "total_s": (refresh["ms"] + sum(c["ms"] for c in deltas + noops)) / 1000.0,
           "op_geomean_ms": M.geomean(d_ms)}
    notes = dict(check, samples=len(d_ms), tail_ms=tail, tail_percentile=tail_p,
                 etl_refresh_s=refresh["ms"] / 1000.0,
                 etl_replay_s=sum(c["ms"] for c in deltas) / 1000.0,
                 etl_delta_p50_ms=M.median(d_ms),
                 etl_noop_ms=M.median([c["ms"] for c in noops if not c["traced"]]),
                 calls_ms={c["op"]: c["ms"] for c in calls})
    layers = etl_layers(rec, [c for c in calls if c["traced"]]) if trace else {}
    if trace:
        traced = M.median([c["ms"] for c in deltas if c["traced"]])
        layers["trace_overhead_pct"] = 100.0 * (traced / notes["etl_delta_p50_ms"] - 1)
    return len(calls), failed, e2e, layers, notes


def etl_layers(rec, traced_calls):
    spans = by_key(rec.get("spans", []), "op")
    ops = rec.get("ops", {})

    def per_call(c):
        ss = sorted(spans.get(c["op"], []), key=lambda s: s["start"])
        call = [s for s in ss if s["name"] == "call"][0]
        jdbc = [s for s in ss if s["name"].startswith("jdbc:")]

        def of(kind):
            return [s for s in jdbc if s["name"] == "jdbc:" + kind]

        def ms(kind):
            return sum(s["end"] - s["start"] for s in of(kind))
        wm_end = max((s["end"] for s in of("wm")), default=call["start"])
        stage = of("stage")
        scan_end = min((s["start"] for s in stage), default=call["end"])
        merge_rows = sum(s["attrs"].get("rows", 0) for s in of("merge"))
        inserted = c["rows_after"] - c["rows_before"]
        return {
            "stage_write_ms": (max(s["end"] for s in stage) - stage[0]["start"]) if stage else 0.0,
            "stage_rows": sum(s["attrs"].get("rows", 0) for s in stage if s["attrs"].get("batch")),
            "stage_batches": sum(s["attrs"].get("batch", 0) for s in stage),
            "dedup_ms": ms("dedup"), "merge_ms": ms("merge"), "merge_rows": merge_rows,
            "rows_inserted": inserted, "rows_updated": merge_rows - inserted if merge_rows else 0,
            "wm_read_ms": wm_end - call["start"], "delta_scan_ms": scan_end - wm_end,
            "delta_source_scans": ops.get(f"{c['op']}/call", {}).get("file_scan_jobs", 0),
            "cleanup_ms": ms("cleanup"),
            "jdbc_statements": len([s for s in jdbc if s["name"] != "jdbc:connect"]),
            "jdbc_connections": len(of("connect"))}

    rows = [(c, per_call(c)) for c in traced_calls]
    totals = ("stage_write_ms", "stage_rows", "stage_batches", "dedup_ms", "merge_ms",
              "merge_rows", "rows_inserted", "rows_updated")
    out = {k: sum(x[k] for c, x in rows if c["kind"] in ("refresh", "delta")) for k in totals}
    per_delta = [x for c, x in rows if c["kind"] == "delta"]
    for k in ETL_LAYERS:
        if k not in totals:
            out[k] = M.median([x[k] for x in per_delta])
    out["heap_peak_mb"] = rec["heap_peak_mb"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # Part of the command's interface (BENCHMARK.json's run_seconds). Both
    # workloads do a fixed amount of work (README.md), which takes about
    # RUN_SECONDS to measure.
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    load_before = os.getloadavg()
    cpu_before = cpu_times()
    classes = build.ensure(root, bdir)
    work = os.path.join(bdir, f"work-{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    if args.workload == "etl_daily":
        datagen.generate(data, args.seed, SCALE[args.workload], ETL_DAYS,
                         ETL_REVISIONS_PER_DAY, ETL_HISTORY_DAYS)
    else:
        datagen.generate(data, args.seed, SCALE[args.workload])
    t_gen = time.time()
    rec = run_jvm(classes, work, data, args)
    t_jvm = time.time()
    if args.workload == "etl_daily":
        attempted, failed, e2e, layers, notes = etl_results(rec, data, work, args.trace)
    else:
        attempted, failed, e2e, layers, notes = query_results(rec, data, args.trace)
    correct = failed == 0 and rec["self_check"]
    reported = {k: layers.get(k, 0) for k in LAYERS} if args.trace else {k: e2e[k] for k in E2E}
    if args.trace:
        notes["self_ms_by_span"] = self_ms_by_span(rec.get("spans", []))
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": unit(k)} for k, v in reported.items()}}
    load_after = os.getloadavg()
    steal = steal_pct(cpu_before, cpu_times())
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    stem = os.path.join(bdir, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        with open(stem + "-trace.json", "w") as f:
            json.dump({k: rec.get(k) for k in ("spans", "ops", "runs", "calls")}, f)
    with open(stem + ".json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "seconds": args.seconds, "cpus": rec["cpus"], "scale": SCALE[args.workload],
                   "loadavg_before": load_before, "loadavg_after": load_after,
                   "cpu_steal_pct": steal,
                   "end_to_end": e2e, "per_layer": layers, "notes": notes,
                   "measured_s": rec["measured_s"], "setup_samples_s": rec["setup_s"],
                   "result": out}, f, indent=1)
    phases = {"build_and_generate_s": t_gen - t0, "jvm_s": t_jvm - t_gen,
              "check_s": time.time() - t_jvm}
    log(f"phases={json.dumps(phases)}")
    log(f"seed={args.seed} loadavg before={load_before[0]:.2f} after={load_after[0]:.2f} "
        f"steal={steal}% "
        f"notes={json.dumps({k: v for k, v in notes.items() if not isinstance(v, list)})}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
