#!/usr/bin/env python3
"""The repo benchmark: one command runs one seeded workload against the
engine compiled from this checkout and prints its metrics.

  python3 perfbench/run.py --workload gmall_batch --seed 1 --seconds 8 --trace 0

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
metrics; with --trace 1 its per_layer metrics. The line before it is the
full report (every named metric, input properties, per-rate figures,
self time per layer).

Steadiness mode: `--repeat N` runs the workload N times with seeds
seed..seed+N-1 and prints each metric's median, quartiles and spread
against its bound in BENCHMARK.json.

Workloads, metric definitions and the layer map are in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("gmall_batch", "gmall_stream", "corpus_admission")
# set-ups per run (a cold one and a warm restart): setup_s is their median
SETUP_REPS = 2
# gmall_stream offered rates (events/s); the first is below saturation
STREAM_RATES = (250, 1000, 4000)
# events the stream run consumes beyond the ladder: the warm batch
# (StreamWorkload.WarmEvents) and the drain (DrainBatches x DrainEvents)
STREAM_EXTRA_EVENTS = 2000 + 2 * 4000
DEADLINE_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Under eleven samples no percentile
    has ten beyond it; the maximum stands in."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - 11 if n >= 11 else n - 1
    return s[k], round(100.0 * (k + 1) / n, 2), n


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, workload, data, out, seconds, trace, deadline):
    jvm = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}/tmp", f"-Dgraft.replay.tmpdir={out}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(f"{out}/tmp", exist_ok=True)
    cmd = jvm + ["-cp", cp, "org.apache.spark.perfbench.PerfBench", workload, data, out,
                 str(seconds), str(trace), str(cores()), str(SETUP_REPS),
                 ",".join(map(str, STREAM_RATES))]
    left = deadline - time.time()
    if left <= 5:
        raise SystemExit("perfbench: no time left to run the workload")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=left, cwd=out)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:] + r.stdout[-2000:])
        raise SystemExit(f"perfbench: harness exited {r.returncode}")
    with open(f"{out}/result.json") as f:
        return json.load(f)


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it its
    child spans cover (children of one parent do not overlap: the
    harness calls layers one at a time)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0, s["end"] - s["start"] - covered) / 1e9
    return {k: round(v, 6) for k, v in sorted(out.items())}


# ---- batch workloads ----

def batch_metrics(res, cores_n, trace):
    samples = res["samples"]
    plain = [s for s in samples if not s["traced"]]
    totals = [s["total_s"] for s in plain]
    q_tail, q_pct, q_n = tail(totals)
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    e2e = {
        "setup_s": median(res["setup_s"]),
        "latency_p50_ms": 1000 * median(totals),
        "latency_tail_ms": 1000 * q_tail,
        "suite_s": median(walls),
    }
    named = {"query_p50_s": median(totals), "query_tail_s": q_tail,
             "query_tail_pct": q_pct, "query_samples": q_n, "suite_s": median(walls),
             "suite_passes": len(walls), "pass_walls_s": walls, "setup_samples_s": res["setup_s"],
             "peak_rss_mb": res["peak_rss_mb"]}
    layer = {}
    if trace:
        traced = [s for s in samples if s["traced"]]
        by_pass = {}
        for s in traced:
            by_pass.setdefault(s["pass"], []).append(s)
        recs = res["layers"]

        def per_pass(f):
            return median([f(r, by_pass.get(r["pass"], [])) for r in recs])

        exec_s = per_pass(lambda r, ss: sum(s["exec_s"] for s in ss))
        busy = per_pass(lambda r, ss: r["exec"]["task_busy_s"])
        t_walls = [p["wall_s"] for p in res["passes"] if p["traced"]]
        build_s = per_pass(lambda r, ss: sum(s["build_s"] for s in ss))
        layer = {
            "entry.build_s": build_s,
            "entry.build_jobs": per_pass(lambda r, ss: r["build"]["jobs"]),
            "entry.plan_s": per_pass(lambda r, ss: sum(s["plan_s"] for s in ss)),
            "entry.build_share": build_s / median(t_walls) if t_walls else 0.0,
            "ops.exec_s": exec_s,
            "ops.jobs": per_pass(lambda r, ss: r["exec"]["jobs"]),
            "ops.stages": per_pass(lambda r, ss: r["exec"]["stages"]),
            "ops.tasks": per_pass(lambda r, ss: r["exec"]["tasks"]),
            "ops.task_busy_s": busy,
            "ops.core_util": busy / (exec_s * cores_n) if exec_s else 0.0,
            "ops.task_skew": per_pass(lambda r, ss: r["exec"]["task_skew"]),
            "ops.shuffle_write_mb": per_pass(lambda r, ss: r["exec"]["shuffle_write_mb"]),
            "ops.spill_mb": per_pass(lambda r, ss: r["exec"]["spill_mb"]),
            "ops.gc_s": per_pass(lambda r, ss: r["exec"]["gc_s"] + r["build"]["gc_s"]),
            "ops.result_rows": per_pass(lambda r, ss: sum(s["rows"] for s in ss)),
            "io.scan_s": per_pass(lambda r, ss: r["io_scan"]["s"]),
            "io.bytes_read_mb": per_pass(lambda r, ss: r["exec"]["bytes_read_mb"]),
            "io.rows_read": per_pass(lambda r, ss: r["exec"]["rows_read"]),
            "expr.ngram_rows_per_s": per_pass(
                lambda r, ss: r["expr"]["rows"] / r["expr"]["s"] if r["expr"]["s"] else 0.0),
            "trace.overhead_s": median(t_walls) - median(walls),
        }
    return e2e, named, layer


# ---- stream workload ----

def stream_metrics(res, cores_n, trace):
    ladder = res["ladder"]
    lat = ladder[0]["latency"] if ladder and "latency" in ladder[0] else []
    l_tail, l_pct, l_n = tail(lat)
    t_lo = ladder[0]["t0_ms"] if ladder else 0
    batch_s = median([b["trigger_ms"] for b in res["progress"]
                      if b["end_ms"] >= t_lo and b["rows"] > 0]) / 1000
    per_rate = {}
    for p in ladder:
        bl = [b for _, b in p.get("backlog", [])]
        lags = sorted(p["generator_lag_ms"])
        per_rate[str(p["rate"])] = {
            "events": p["events"], "backlog_max": max(bl, default=0),
            # a micro-batch engine that keeps up holds at most the input of
            # one batch being processed plus one arriving
            "backlog_grows": max(bl, default=0) > 2 * batch_s * p["rate"],
            "generator_lag_p50_ms": median(lags), "generator_lag_max_ms": lags[-1] if lags else 0,
            "latency_p50_ms": median(p.get("latency", []))}
    sustained = max([int(r) for r, v in per_rate.items() if not v["backlog_grows"]], default=0)
    drain = res["drain"]
    drain_s = drain.get("s", 0.0)
    e2e = {
        "setup_s": median(res["setup_s"]),
        "latency_p50_ms": float(median(lat)),
        "latency_tail_ms": float(l_tail),
        "suite_s": drain_s,
    }
    named = {"sustained_eps": sustained, "latency_p50_ms": e2e["latency_p50_ms"],
             "latency_tail_ms": e2e["latency_tail_ms"], "latency_tail_pct": l_pct,
             "latency_samples": l_n, "latency_rate_eps": STREAM_RATES[0],
             "drain_eps": drain.get("events", 0) / drain_s if drain_s else 0.0,
             "drain_s": drain_s, "batch_p50_s": batch_s, "per_rate": per_rate,
             "setup_samples_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"]}
    layer = {}
    if trace and ladder:
        t0, t1 = ladder[0]["t0_ms"], ladder[-1]["stop_ms"]
        all_b = [b for b in res["progress"] if b["end_ms"] >= t0]
        batches = [b for b in all_b if b["rows"] > 0]
        lay = res["layers"]
        probes = res["probes"]
        wall = (max([b["end_ms"] for b in all_b], default=t1) - t0) / 1000
        layer = {
            "entry.build_s": probes["build_s"],
            "entry.plan_s": sum(b["plan_ms"] for b in all_b) / 1000,
            "io.scan_s": probes["scan_s"],
            "expr.ngram_rows_per_s": probes["expr"]["rows"] / probes["expr"]["s"],
            "streaming.batches": len(batches),
            "streaming.batch_p50_ms": median([b["trigger_ms"] for b in batches]),
            "streaming.add_batch_ms": median([b["add_batch_ms"] for b in batches]),
            "streaming.plan_ms": median([b["plan_ms"] for b in batches]),
            "streaming.wal_commit_ms": median([b["wal_commit_ms"] for b in batches]),
            "streaming.state_update_ms": median([b["state_update_ms"] for b in batches]),
            "streaming.state_commit_ms": median([b["state_commit_ms"] for b in batches]),
            "streaming.state_rows": max([b["state_rows"] for b in all_b], default=0),
            "streaming.state_mb": max([b["state_bytes"] for b in all_b], default=0) / 1e6,
            "streaming.late_rows": sum(b["late_rows"] for b in all_b),
            "streaming.backlog_max": max([b for p in ladder for _, b in p.get("backlog", [])],
                                         default=0),
            "streaming.generator_lag_ms": max(
                [v["generator_lag_max_ms"] for v in per_rate.values()], default=0),
            "ops.exec_s": sum(b["trigger_ms"] for b in all_b) / 1000,
            "ops.jobs": lay.get("jobs", 0), "ops.stages": lay.get("stages", 0),
            "ops.tasks": lay.get("tasks", 0), "ops.task_busy_s": lay.get("task_busy_s", 0.0),
            "ops.core_util": lay.get("task_busy_s", 0.0) / (wall * cores_n) if wall > 0 else 0.0,
            "ops.task_skew": lay.get("task_skew", 0.0),
            "ops.shuffle_write_mb": lay.get("shuffle_write_mb", 0.0),
            "ops.spill_mb": lay.get("spill_mb", 0.0), "ops.gc_s": lay.get("gc_s", 0.0),
            "ops.result_rows": sum(v["rows"] for v in res["check"].values()),
        }
    return e2e, named, layer


def checks(workload, res, data, out):
    """(attempted, failed, verdicts): engine errors plus oracle/replay
    mismatches, each counted once."""
    if workload == "gmall_stream":
        verdicts = {k: ("OK" if v["match"] else f"MISMATCH {v['rows']} vs {v['want_rows']}")
                    for k, v in res["check"].items()}
    else:
        import check  # needs the repo's tools/, so only after the build found the repo
        verdicts = check.check(data, f"{out}/check")
    attempted = int(res["attempted"]) + len(verdicts)
    failed = len(res["errors"]) + sum(1 for v in verdicts.values() if not v.startswith("OK"))
    return attempted, failed, verdicts


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(a):
    deadline = time.time() + DEADLINE_S
    cp = build.build()
    out = os.path.join(build.OUT, "runs", str(os.getpid()))
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    try:
        t0 = time.time()
        # enough for the ladder whatever its split: the top rate for the whole run
        n_stream = int(1.1 * (STREAM_EXTRA_EVENTS + max(STREAM_RATES) * a.seconds))
        props = gen.generate(a.workload, a.seed, data, stream_events=n_stream)
        gen_s = time.time() - t0
        res = run_jvm(cp, a.workload, data, out, a.seconds, a.trace, deadline)
        n = cores()
        if a.workload == "gmall_stream":
            e2e, named, layer = stream_metrics(res, n, a.trace)
        else:
            e2e, named, layer = batch_metrics(res, n, a.trace)
        attempted, failed, verdicts = checks(a.workload, res, data, out)
        spans = []
        if a.trace:
            with open(f"{out}/spans.json") as f:
                spans = json.load(f)
            # the run dir is deleted below; the spans stay for inspection
            os.makedirs(f"{build.OUT}/spans", exist_ok=True)
            shutil.copy(f"{out}/spans.json", f"{build.OUT}/spans/{a.workload}-seed{a.seed}.json")
        spec = bench_spec()
        names = [m["name"] for m in spec["end_to_end" if not a.trace else "per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        vals = {**e2e, **layer}
        for nm in names:
            vals.setdefault(nm, 0.0)  # a layer this workload bypasses
        report = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": n,
            "input_generation_s": round(gen_s, 3), "input": props,
            "named": named, "failed_frac": failed / attempted if attempted else 1.0,
            "checks": verdicts, "errors": res["errors"], "layers": layer,
            "self_time_s": self_times(spans), "spans": len(spans),
            "harness_wall_s": res["jvm_wall_s"],
        }
        print(json.dumps({"report": report}))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {nm: {"value": vals[nm], "unit": units[nm]} for nm in names}}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def steadiness(a):
    """Run the workload --repeat times on consecutive seeds; per metric,
    median, quartiles and (q3-q1)/median against the bound."""
    spec = bench_spec()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    runs = []
    for i in range(a.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
               "--seed", str(a.seed + i), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=DEADLINE_S + 60)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: run {i} failed (exit {r.returncode})")
        lines = r.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        runs.append(res)
        named = json.loads(lines[-2])["report"]["named"]
        print(json.dumps({"seed": a.seed + i, **res, "named": named}), flush=True)
    out = {}
    for nm in runs[0]["metrics"]:
        vals = [r["metrics"][nm]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(nm)
        out[nm] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4), "bound": b,
                   "within_third_of_bound": None if b is None else spread < b / 3}
    print(json.dumps({"workload": a.workload, "runs": len(runs),
                      "all_correct": all(r["correct"] for r in runs), "steadiness": out}))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0, help="steadiness mode: runs on consecutive seeds")
    a = p.parse_args()
    if a.repeat:
        steadiness(a)
    else:
        print(json.dumps(run_once(a)))


if __name__ == "__main__":
    main()
