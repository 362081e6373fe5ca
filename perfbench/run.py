#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness from
source (perfbench/build.py), generates the parquet tables (perfbench/
datagen.py) and the seeded workload inputs (perfbench/streams.py), runs the
harness JVM once, checks the answers (DuckDB through tools/check.py, plus
the harness's own final-state checks) and prints the metrics. The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones of a second, traced window.

Everything is written under .bench_build/ in the working directory.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import streams  # noqa: E402

WORKLOADS = ["olap_headline", "txn_mixed"]
SF = 0.01  # scale factor of the generated tables
DATA_SEED = 42  # the tables are fixed; --seed drives what runs against them
HARNESS_TIMEOUT_S = 165
JVM_HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
MB = 1024.0 * 1024.0
# printed but not reported as metrics: a percentile needs ten samples
# beyond it and a window holds 19 queries or 20 transactions; with one
# client, ops_per_s already carries the mean latency
PRINTED_ONLY = {"latency_p50_s", "latency_p90_s"}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def run_harness(root, classpath, workload, data, inputs, out, seconds, trace, n_cores):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    ignored = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    # Spark prefers this variable to spark.local.dir; keep scratch in the run dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Harness",
            "--workload", workload, "--data", data, "--inputs", inputs, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(n_cores)]
    with open(os.path.join(out, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(out, "harness.log")) as f:
            log(f.read()[-3000:])
        raise SystemExit(f"harness failed ({code})")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(out, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return result, spans, ignored


def duckdb_check(root, data, results_dir):
    """tools/check.py over one results dir: (n_ok, failure lines). A result
    without an oracle ("ok?") counts as a failure."""
    proc = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, results_dir],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    m = re.search(r"(\d+) ok, (\d+) fail", proc.stdout)
    if not m:
        return 0, [proc.stdout[-2000:]]
    return int(m.group(1)), [line for line in proc.stdout.splitlines() if line.startswith(("FAIL", "ok?"))]


def window_figures(window):
    samples = window["samples"]
    ok = [s for s in samples if s[2]]
    lat = [s[1] for s in samples]
    return {
        "attempted": len(samples), "failed": len(samples) - len(ok),
        "ops_per_s": len(ok) / window["wall_s"], "lat": lat}


def end_to_end(result):
    setup = stats.median([s["total_s"] for s in result["setups"]]) + result["warmup_s"]
    w = window_figures(result["untraced"])
    return {
        "setup_s": (setup, "s", len(result["setups"])),
        "ops_per_s": (w["ops_per_s"], "1/s", w["attempted"]),
        "latency_p50_s": (stats.percentile(w["lat"], 0.5), "s", len(w["lat"])),
        "latency_p90_s": (stats.percentile(w["lat"], 0.9), "s", len(w["lat"])),
        "retained_heap_mb": (result["heap_mb"], "MB", 1),
    }


def _sum_spans(spans, names):
    return sum((s["end"] - s["start"]) / 1e9 for s in spans if s["name"] in names)


def per_layer(result, spans, n_cores):
    t = result["traced"]
    win = [s for s in spans if s["stage"] == "window"]
    setup_spans = [s for s in spans if s["stage"] == "setup"]
    ops = [s for s in win if s["name"] == "op"]
    n = max(1, len(ops))
    sp = t["spark"]
    plan = t["plan"]

    def spark_total(field, phases=None):
        return sum(v.get(field, 0.0) for p, v in sp.items() if phases is None or p in phases)

    # set-up: per iteration, the time its "tables" spans took
    by_id = {s["id"]: s for s in setup_spans}

    def root_label(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s["label"]
    resolve = {}
    for s in setup_spans:
        if s["name"] == "tables":
            resolve[root_label(s)] = resolve.get(root_label(s), 0.0) + (s["end"] - s["start"]) / 1e9
    table_resolve = stats.median(list(resolve.values())) if resolve else 0.0

    op_time = _sum_spans(win, {"op"})
    build = _sum_spans(win, {"build"})
    action = [(s["start"], s["end"]) for s in win if s["name"] == "action"]
    exec_wall = stats.union_length(action) / 1e9
    run_exec = spark_total("task_run_s", {"action"})
    hits, misses = t["memo_hits"], t["memo_misses"]
    selfs = {k: v / 1e9 for k, v in stats.self_times(win).items()}
    pipeline_names = {s["name"] for s in win if s["name"].startswith("pipeline.")}
    untraced_rate = window_figures(result["untraced"])["ops_per_s"]
    traced_rate = window_figures(t)["ops_per_s"]

    m = {
        "session_start_s": (stats.median([s["session_s"] for s in result["setups"]]), "s"),
        "table_resolve_s": (table_resolve, "s"),
        "table_resolve_jobs": (stats.median([s["table_resolve_jobs"] for s in result["setups"]]), "count"),
        "build_s": (build / n, "s"),
        "build_jobs": (spark_total("jobs", {"build"}) / n, "count/op"),
        "build_share": (build / op_time if op_time else 0.0, "ratio"),
    }
    label_of = {s["op"]: s["label"] for s in ops}
    build_jobs_by_query = {}
    for j in t["jobs_by_op"]:
        if j["phase"] == "build" and j["op"] in label_of:
            q = label_of[j["op"]]
            build_jobs_by_query[q] = build_jobs_by_query.get(q, 0) + j["jobs"]
    runs_by_query = {}
    for s in ops:
        runs_by_query[s["label"]] = runs_by_query.get(s["label"], 0) + 1
    plain = result["untraced"]["samples"]
    for q in streams.HEADLINE:
        lat = [s[1] for s in plain if s[0] == q]
        m[f"q.{q}.p50_s"] = (stats.median(lat) if lat else 0.0, "s")
        runs = runs_by_query.get(q, 0)
        m[f"q.{q}.build_jobs"] = (build_jobs_by_query.get(q, 0) / runs if runs else 0.0, "count/op")
    m.update({
        "analysis_s": (plan.get("analysis_s", 0.0) / n, "s"),
        "optimize_s": (plan.get("optimization_s", 0.0) / n, "s"),
        "physical_plan_s": (plan.get("planning_s", 0.0) / n, "s"),
        "graft_rules_invoked": (plan.get("graft_rules_invoked", 0.0) / n, "count/op"),
        "graft_rules_effective": (plan.get("graft_rules_effective", 0.0) / n, "count/op"),
        "exec_s": (_sum_spans(win, {"action"}) / n, "s"),
        "jobs": (spark_total("jobs") / n, "count/op"),
        "stages": (spark_total("stages") / n, "count/op"),
        "tasks": (spark_total("tasks") / n, "count/op"),
        "task_run_s": (spark_total("task_run_s") / n, "s"),
        "task_cpu_s": (spark_total("task_cpu_s") / n, "s"),
        "task_gc_s": (spark_total("task_gc_s") / n, "s"),
        "core_busy_frac": (run_exec / (exec_wall * n_cores) if exec_wall else 0.0, "ratio"),
        "input_mb": (spark_total("input_b") / MB / n, "MB/op"),
        "shuffle_write_mb": (spark_total("shuffle_write_b") / MB / n, "MB/op"),
        "shuffle_read_mb": (spark_total("shuffle_read_b") / MB / n, "MB/op"),
        "spill_mb": (spark_total("spill_b") / MB / n, "MB/op"),
        "pipeline_call_s": (_sum_spans(win, pipeline_names) / n, "s"),
        "plan_memo_hits": (hits, "count"),
        "plan_memo_misses": (misses, "count"),
        "plan_memo_hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "dml_s": (_sum_spans(win, {"pipeline.dml"}) / n, "s"),
        "commit_s": (_sum_spans(win, {"pipeline.commit"}) / n, "s"),
        "commit_jobs": (spark_total("jobs", {"pipeline.commit"}) / n, "count/op"),
        "commit_conflicts": (t["conflicts"], "count"),
        "compact_s": (_sum_spans(win, {"compact"}) / n, "s"),
        "matview_read_s": (_sum_spans(win, {"matview_read"}) / n, "s"),
        "driver_gc_s": (t["gc_s"] / n, "s"),
        "trace_overhead_frac": (1.0 - traced_rate / untraced_rate if untraced_rate else 0.0, "ratio"),
        "self.harness_s": (selfs.get("op", 0.0) / n, "s"),
        "self.build_s": (selfs.get("build", 0.0) / n, "s"),
        "self.action_s": (selfs.get("action", 0.0) / n, "s"),
        "self.pipeline_s": (sum(selfs.get(p, 0.0) for p in pipeline_names) / n, "s"),
        "self.matview_read_s": (selfs.get("matview_read", 0.0) / n, "s"),
        "self.compact_s": (selfs.get("compact", 0.0) / n, "s"),
    })
    return m, selfs, n


def declared_metrics(root, kind):
    """{name: unit} of one metric list in BENCHMARK.json, if there is one."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        raise SystemExit("tools/check.py not found: run from the repository root")

    t0 = time.time()
    classpath = build.build(root, log=sys.stderr)
    data = os.path.join(root, ".bench_build", "data", f"sf{SF}")
    datagen.write(data, SF, DATA_SEED)
    out = os.path.join(root, ".bench_build", "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    inputs = os.path.join(out, "inputs")
    streams.write_inputs(args.workload, args.seed, inputs)
    log(f"build+data+inputs {time.time() - t0:.1f}s")

    n_cores = cores()
    result, spans, ignored = run_harness(root, classpath, args.workload, data, inputs, out,
                                         args.seconds, args.trace, n_cores)

    # ---- correctness
    checks = list(result["checks"])
    if args.workload == "olap_headline":
        n_ok, failures = duckdb_check(root, data, os.path.join(out, "olap_results"))
        checks += [{"name": "duckdb", "ok": True, "detail": ""}] * n_ok
        checks += [{"name": "duckdb", "ok": False, "detail": line} for line in failures]
    bad_checks = [c for c in checks if not c["ok"]]
    windows = [result[w] for w in ("untraced", "traced") if w in result]
    figures = [window_figures(w) for w in windows]
    ops = sum(f["attempted"] for f in figures)
    attempted = ops + len(checks)
    failed = sum(f["failed"] for f in figures) + len(bad_checks)
    correct = failed == 0 and all(f["attempted"] > 0 for f in figures)

    # ---- report
    env = result["env"]
    print(f"workload {args.workload}  seed {args.seed}  data sf{SF} (seed {DATA_SEED})  "
          f"cores {env['cores']}  heap limit {env['heap_max_mb']:.0f} MB  "
          f"spark {env['spark_version']}  java {env['java_version']}")
    print(f"spark conf {json.dumps(env['conf'], sort_keys=True)}")
    print("ambient SPARK_GRAFT_* overrides: " + (", ".join(ignored) + " (removed from the harness "
          "environment)" if ignored else "none"))
    for c in bad_checks:
        print(f"CHECK FAILED {c['name']}: {c['detail']}")
    for w in windows:
        for e in w["errors"]:
            print(f"OP FAILED {e}")
    print(f"checks: {len(checks) - len(bad_checks)}/{len(checks)} ok; "
          f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} ops and checks)")

    if args.trace == 0:
        e2e = end_to_end(result)
        for name, (value, unit, n) in e2e.items():
            note = ""
            q = {"latency_p50_s": 0.5, "latency_p90_s": 0.9}.get(name)
            if q and not stats.supported(n, q):
                note = f"  (fewer than {stats.min_samples(q)} samples: not a supported percentile)"
            print(f"{name:>18} {value:12.6f} {unit:<4} n={n}{note}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items() if k not in PRINTED_ONLY}
    else:
        layers, selfs, n = per_layer(result, spans, n_cores)
        print(f"traced window: {n} ops; self time per op by span:")
        for name, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"  {name:<18} {v / n:10.6f} s")
        for name, (value, unit) in layers.items():
            print(f"{name:>40} {value:14.6f} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    declared = declared_metrics(root, "per_layer" if args.trace else "end_to_end")
    if declared is not None and declared != {k: v["unit"] for k, v in metrics.items()}:
        raise SystemExit("metrics differ from BENCHMARK.json: "
                         f"{sorted(set(declared.items()) ^ {(k, v['unit']) for k, v in metrics.items()})}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
