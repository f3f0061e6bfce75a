#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py), checks that the
pinned inputs are unchanged, runs one workload in a single JVM on
local[4], checks its outputs and prints, as the last line of standard
output, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and a span trace is
written to .bench_build/perfbench/traces/. The line before it carries the
host-load evidence of the run (loadavg before/after, steal %).

Extra options for the benchmark's own tests: --tiny 1 (a small-scale
smoke) and --goldens <file> (check query hashes against another file).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from stats import nearest_rank  # noqa: E402

DATA = os.path.join("perfbench", "data", "sf0.01")
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_json(path):
    with open(path) as f:
        return json.load(f)


def host_snapshot():
    """(loadavg 1m, steal jiffies, total jiffies) straight from /proc."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return load1, (cpu[7] if len(cpu) > 7 else 0), sum(cpu)


def check_data(inputs):
    """Fails loudly when a pinned input file differs from its fingerprint."""
    bad = []
    for name, want in sorted(inputs["data_files"].items()):
        with open(os.path.join(DATA, name), "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != want:
            bad.append(name)
    if bad:
        print(f"perfbench: pinned input files changed: {', '.join(bad)}", file=sys.stderr)
        raise SystemExit(3)


def rows_of(workload):
    return workload.get("reference", []) + workload.get("pipeline", [])


def run_jvm(args, run_dir, raw_path, workload):
    cmd = (["java", "-Xmx4g", "-Xss16m", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", build.classpath(), "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--run-dir", run_dir, "--out", raw_path,
            "--rows", ",".join(rows_of(workload)), "--tiny", str(args.tiny)])
    if args.dump:
        cmd += ["--dump", args.dump]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        print(f"perfbench: harness exited with {rc}\n{tail}", file=sys.stderr)
        raise SystemExit(4)
    return load_json(raw_path)


def live_metrics(raw):
    lags = raw["tranche_lag_ms"]
    dash = raw["dash"]
    b = raw["ingest_batches"]
    win = raw["busy_window_ms"]

    def pct(xs, p):
        return nearest_rank(xs, p) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    e2e = {
        "work_s": raw["catchup_s"],
        "cpu_s": raw["cpu_s"],
    }
    layer = {
        "ingest.lag_mean_ms": mean(lags),
        "ingest.lag_p50_ms": pct(lags, 50),
        "ingest.lag_p90_ms": pct(lags, 90),
        "ingest.catchup_eps": raw["catchup_eps"],
        "ingest.trigger_ms_p50": pct([x["dur_ms"] for x in b], 50),
        "ingest.trigger_ms_p90": pct([x["dur_ms"] for x in b], 90),
        "ingest.rows_per_batch": mean([x["rows"] for x in b]),
        "ingest.busy_frac": sum(x["dur_ms"] for x in b) / win,
        "ingest.state_rows": raw["ingest_state_rows"],
        "ingest.state_mem_bytes": raw["ingest_state_mem_bytes"],
        "ingest.state_commit_task_ms": mean([x["state_commit_ms"] for x in b]),
        "sink.write_ms": mean([x["sink_write_ms"] for x in b]),
        "sink.files": raw["sink_files"],
        "sink.bytes": raw["sink_bytes"],
        "views.trigger_ms_p50": pct(raw["view_batches"], 50),
        "views.busy_frac": sum(raw["view_batches"]) / win,
        "views.state_rows": raw["view_state_rows"],
        "server.refresh_ms_p50": pct(raw["refresh_ms"], 50),
        "server.refresh_ms_max": max(raw["refresh_ms"], default=0.0),
        "server.busy_frac": sum(raw["refresh_ms"]) / (win + 1e3 * raw["burst_drain_s"]),
        "retention.tick_ms": mean(raw["retention_ms"]),
        "retention.dropped_partitions": raw["retention_dropped"],
        "feeder.late_ms_max": max(raw["feeder_late_ms"], default=0.0),
        "dash.client_late_ms_max": max((d["late_ms"] for d in dash), default=0.0),
        "dash.p50_ms": pct([d["lat_ms"] for d in dash], 50),
        "dash.p99_ms": pct([d["lat_ms"] for d in dash], 99),
    }
    # phases: Spark's per-trigger wall phases, plus the remainder, so they
    # add up to the trigger time
    known = ["addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch"]
    for k in known:
        layer[f"ingest.phase.{k}_ms"] = mean([x["phases"].get(k, 0) for x in b])
    layer["ingest.phase.other_ms"] = mean(
        [x["dur_ms"] - sum(x["phases"].get(k, 0) for k in known) for x in b])
    cache_calls = raw["cache_hits"] + raw["cache_misses"]
    layer["server.cache_hit_rate"] = raw["cache_hits"] / cache_calls if cache_calls else 0.0
    for proc in sorted({d["proc"] for d in dash}):
        name = proc.lstrip("@")
        layer[f"dash.{name}.p99_ms"] = pct([d["lat_ms"] for d in dash if d["proc"] == proc], 99)
    c = raw["checks"]
    checks = {
        "drained": c["drained"],
        "export_equals_replay": c["export_rows"] == c["replay_rows"],
        "view_seconds_match": c["view_mismatch"] == 0 and c["view_closed_ok"],
        "lags_mapped": c["lags_mapped"],
    }
    failed_ops = sum(1 for d in dash if not d["ok"]) + raw["refresh_failures"]
    attempted = len(lags) + raw["burst_tranches"] + len(dash) + len(raw["refresh_ms"]) + \
        len(raw["retention_ms"]) + len(checks)
    return e2e, layer, checks, attempted, failed_ops


def query_metrics(raw, workload, goldens):
    rows = rows_of(workload)
    samples = raw["samples"]
    ok = [s for s in samples if s["ok"]]
    passes = sorted({s["pass"] for s in samples})

    def wall(s):
        return s["construct_s"] + s["execute_s"]

    # each row's fastest timed pass: a pass slowed by a burst of load from
    # outside the run does not decide the figure
    best = {}
    for s in ok:
        if s["row"] not in best or wall(s) < wall(best[s["row"]]):
            best[s["row"]] = s
    fast = list(best.values())
    e2e = {
        "work_s": sum(wall(s) for s in fast),
        "cpu_s": sum(min(x["cpu_s"] for x in ok if x["row"] == r) for r in best),
    }
    gtk = set(raw["grouped_topk_rows"])
    eng = raw["engine"]
    layer = {
        "queries.check_pass_s": raw["check_pass_s"],
        "queries.construct_s": sum(s["construct_s"] for s in fast),
        "queries.execute_s": sum(s["execute_s"] for s in fast),
        "queries.row_p50_ms": 1e3 * nearest_rank([wall(s) for s in ok], 50) if ok else 0.0,
        "queries.row_p90_ms": 1e3 * nearest_rank([wall(s) for s in ok], 90) if ok else 0.0,
        "queries.jobs_per_query": eng.get("spark.jobs", 0) / max(1, len(samples)),
        "queries.persisted_rdds": sum(s["persisted_rdds"] for s in samples) / len(passes),
        "queries.grouped_topk_s": sum(wall(s) for s in fast if s["row"] in gtk),
    }
    for part in ("reference", "pipeline"):
        layer[f"queries.{part}_s"] = sum(wall(s) for s in fast if s["row"] in workload.get(part, []))
    for r in rows:
        layer[f"query.{r}_s"] = wall(best[r]) if r in best else 0.0
    # output checks: each row's order-insensitive hash against its golden;
    # rows whose output is not deterministic are checked on row count only
    mismatched = []
    for r in rows:
        g = goldens.get(r)
        got = raw["hashes"].get(r)
        if g is None or got is None:
            mismatched.append(r)
        elif g["deterministic"]:
            if got != g["hash"]:
                mismatched.append(r)
        elif got.split(":")[0] != g["hash"].split(":")[0]:
            mismatched.append(r)
    checks = {"goldens_match": not mismatched, "no_row_failures": not raw["failures"]}
    failed_ops = (len(samples) - len(ok)) + len(mismatched)
    attempted = len(samples) + len(rows)
    return e2e, layer, checks, attempted, failed_ops, mismatched


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    ap.add_argument("--goldens", default=os.path.join(HERE, "goldens.json"))
    ap.add_argument("--dump", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--keep-raw", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    bench = load_json("BENCHMARK.json")
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        raise SystemExit(2)
    workload = workloads[args.workload]
    if args.tiny:
        # the smoke scale: two rows of each part
        workload = {k: v[:2] for k, v in workload.items()}
    build.build()
    inputs = load_json(os.path.join(HERE, "inputs.json"))
    check_data(inputs)

    # write back what earlier runs left dirty, so it is not flushed during
    # this run's measurement
    os.sync()
    load_before, steal0, total0 = host_snapshot()
    run_dir = os.path.abspath(os.path.join(build.OUT, "runs", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        raw = run_jvm(args, run_dir, os.path.join(run_dir, "raw.json"), workload)
        if args.keep_raw:
            shutil.copyfile(os.path.join(run_dir, "raw.json"), args.keep_raw)
        trace_ok = True
        if args.trace:
            # the trace must parse; keep it beside the build output
            trace = load_json(raw["trace_file"])
            trace_ok = isinstance(trace.get("spans"), list) and len(trace["spans"]) > 0
            dest = os.path.join(build.OUT, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(raw["trace_file"], dest)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after, steal1, total1 = host_snapshot()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)

    if raw["kind"] == "live":
        e2e, layer, checks, attempted, failed = live_metrics(raw)
        fp = raw["fingerprints"]
        checks["canary_input"] = fp["canary"] == inputs["event_canary"]
        pinned = inputs["tranche_sets"].get(f"seed={args.seed},seconds={args.seconds}")
        checks["tranche_set"] = pinned is None or pinned == fp["tranche_set"]
        if not (checks["canary_input"] and checks["tranche_set"]):
            print(f"perfbench: generated inputs changed: canary {fp['canary']}, "
                  f"tranche set {fp['tranche_set']}", file=sys.stderr)
            raise SystemExit(3)
    else:
        e2e, layer, checks, attempted, failed, mismatched = query_metrics(
            raw, workload, load_json(args.goldens))
        if mismatched:
            print(f"perfbench: golden mismatch: {', '.join(mismatched)}", file=sys.stderr)
        for f in raw["failures"]:
            print(f"perfbench: row failed: {f}", file=sys.stderr)
    checks["trace_parses"] = trace_ok
    failed += sum(1 for v in checks.values() if not v)
    e2e["setup_s"] = raw["setup_s"]
    layer["peak_rss_mb"] = raw["peak_rss_mb"]
    layer.update({k: v for k, v in raw["engine"].items()})
    layer.update({f"traced.{k}": v for k, v in e2e.items()})
    layer["trace.spans"] = raw["spans"]
    layer.update({"host.loadavg_before": load_before, "host.loadavg_after": load_after,
                  "host.steal_pct": steal_pct})

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        if m["name"] not in source and not args.trace:
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            raise SystemExit(5)
        # a per-layer metric of a layer this workload does not run reads 0
        metrics[m["name"]] = {"value": source.get(m["name"], 0), "unit": m["unit"]}
    print(json.dumps({"host": {"loadavg_before": load_before, "loadavg_after": load_after,
                               "steal_pct": round(steal_pct, 3)},
                      "checks": checks, "session_s": raw["session_s"],
                      "setup_phases_at_s": raw.get("phase_at_s", {})}))
    print(json.dumps({"correct": all(checks.values()), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
