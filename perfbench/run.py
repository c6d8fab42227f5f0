#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as the last line.

    python3 perfbench/run.py --workload curate|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.py) under $CARGO_TARGET_DIR (default .bench_build);
every run gets fresh store, warehouse, Spark-scratch, checkpoint and sink
directories there and deletes them at the end. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import stats  # noqa: E402

# The input tables: byte copies of the sf0.1 testdata tables the workloads
# read (see README.md).
DATA = os.path.join(HERE, "data")
WORKLOADS = ("curate", "ingest")
# The harness JVM's deadline is this allowance plus twice --seconds. A run
# needs 45-75 s on 4 vCPUs beyond --seconds: set-up (session start, cold
# pass, store builds), curate's second pass (a started pass runs to its end,
# and there are at least two) and the canary; the rest is room for a slow
# machine.
SETUP_ALLOWANCE_S = 120
HEAP = "3g"
CANARY_DRIFT_BOUND = 0.25  # |last/first - 1| above this flags the run

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# End-to-end metrics (untraced runs), reported for every workload. Throughput
# and peak RSS are receipts only: between runs of the same code they moved by
# up to 27 % and 13 % (interquartile range over median), wider than any bound.
END_TO_END = [("setup_s", "s"), ("p50_ms", "ms")]

# Per-layer metrics (traced runs), reported for every workload; a layer that
# does no work in a workload reports 0.
SPAN = [("build_ms", "ms"), ("build_jobs", "count"),
        ("plan_analysis_ms", "ms"), ("plan_optimizer_ms", "ms"), ("plan_physical_ms", "ms"),
        ("exchanges", "count"), ("native_expr_nodes", "count"),
        ("exec_ms", "ms"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_cpu_ms", "ms"), ("task_gc_ms", "ms"), ("shuffle_write_bytes", "bytes"),
        ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
        ("release_ms", "ms"), ("seams_released", "count")]
STREAM = [("batch_ms", "ms"), ("add_batch_ms", "ms"), ("query_planning_ms", "ms"),
          ("get_batch_ms", "ms"), ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"),
          ("state_commit_ms", "ms")]
PER_LAYER = SPAN + [("store_builds", "count"), ("store_bytes", "bytes"), ("cold_pass_s", "s")] \
    + STREAM + [("state_rows", "count"), ("state_mem_bytes", "bytes"), ("sink_files", "count"),
                ("processed_rps", "1/s"), ("backlog_ticks", "count"), ("dlq_share", "ratio"),
                ("gen_late_ms", "ms"), ("loadavg_start", "load"), ("loadavg_end", "load"),
                ("canary_first_ms", "ms"), ("canary_last_ms", "ms"),
                ("trace_overhead_pct", "%"), ("tail_ms", "ms"), ("tail_pct", "percentile"),
                ("samples", "count")]


def java_cmd(classes, work, out, a, cpus):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness",
            "--workload", a.workload, "--data", DATA, "--work", work,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--out", out]


def run_jvm(cmd, log_path, timeout):
    """Run the harness in its own process group; kill the group on timeout
    and always wait for it."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def curate_result(rec, work):
    """curate: pass times, output check, failures."""
    ops = rec["ops"]
    bad = checks.oracle_mismatches(DATA, os.path.join(work, "results"), rec["oracle_sql"],
                                   os.path.join(build.build_root(), "oracle"))
    keys = {o["key"] for o in ops}
    for k in keys - set(rec["checked_keys"]):
        bad[k] = "no result from the set-up pass"
    failed = sum(1 for o in ops if not o["ok"] or o["key"] in bad)
    passes = {}
    for p in sorted({o["pass"] for o in ops}):
        mine = [o for o in ops if o["pass"] == p]
        if all(o["ok"] for o in mine):
            passes[p] = (sum(o["ms"] for o in mine), mine[0]["traced"])
    ok_ops = sum(1 for o in ops if o["ok"])
    return {
        "attempted": len(ops), "failed": failed, "bad_keys": bad,
        "samples": [ms for ms, traced in passes.values() if not traced],
        "traced_samples": [ms for ms, traced in passes.values() if traced],
        "throughput": ok_ops / rec["timed_s"],
        "traced_ops": [o for o in ops if o["traced"] and o["ok"]],
        "passes_traced": sum(1 for _, traced in passes.values() if traced),
    }


def ingest_result(rec, a):
    ing = rec["ingest"]
    queries = [ing["batches_ingest"], ing["batches_bars"]]
    pa = ing["phase_a"]
    first = [x for x in pa["appends"] if not a.trace or x["emit_ms"] < pa["mid_ms"]]
    second = [x for x in pa["appends"] if a.trace and x["emit_ms"] >= pa["mid_ms"]]
    lat, lost = stats.tick_latencies(first, queries)
    lat_traced, lost2 = stats.tick_latencies(second, queries)
    tps = []
    for b in ing["backlog"]:
        d = stats.drain_seconds(b["offset"], queries)
        if d:
            tps.append(b["n"] / d)
    attempted = sum(x["n"] for x in pa["appends"]) + sum(b["n"] for b in ing["backlog"])
    # a message that never landed fails; a failed output check fails them all
    failed = sum(x["n"] for x in pa["appends"] if x["offset"] in set(lost + lost2))
    if rec["errors"]:
        failed = attempted
    return {"attempted": attempted, "failed": failed, "samples": lat,
            "traced_samples": lat_traced, "throughput": stats.median(tps) or 0.0,
            "tps_rounds": tps}


def span_layers(res):
    """curate: span totals per traced pass."""
    n = max(1, res["passes_traced"])
    return {k: sum(o["span"].get(k, 0.0) for o in res["traced_ops"]) / n for k, _ in SPAN}


def stream_layers(rec):
    """ingest: Spark spans per micro-batch and the progress of the traced
    batches (query 0 = ingest, 1 = bars): those that started in the second
    half of phase A, where the tracer is attached, or in phase B."""
    ing = rec["ingest"]
    pa = ing["phase_a"]
    queries = (ing["batches_ingest"], ing["batches_bars"])
    traced = [dict(b, query=q) for q, bs in enumerate(queries) for b in bs
              if b["start_ms"] >= pa["mid_ms"]]
    m = {}
    span = rec["span_stream"]
    for k, _ in SPAN:
        m[k] = span.get(k, 0.0) / max(1, len(traced))
    m["exec_ms"] = m["build_ms"] = m["build_jobs"] = 0.0
    m["release_ms"] = m["seams_released"] = 0.0
    steady = [b for b in traced if b["rows"] > 0 and b["start_ms"] < pa["drained_ms"]]
    for k, _ in STREAM:
        m[k] = stats.median([b[k] for b in steady]) or 0.0
    bars = [b for b in steady if b["query"] == 1]
    m["state_rows"] = float(bars[-1]["state_rows"]) if bars else 0.0
    m["state_mem_bytes"] = float(bars[-1]["state_mem_bytes"]) if bars else 0.0
    backlog = [b for b in traced if b["start_ms"] >= pa["drained_ms"] and b["rows"] > 0]
    m["processed_rps"] = stats.median([b["processed_rps"] for b in backlog]) or 0.0
    m["backlog_ticks"] = stats.median(stats.waiting_ticks(pa["appends"], steady)) or 0.0
    c = rec["checks"]
    m["dlq_share"] = c["dlq_rows"] / max(1, c["dlq_rows"] + c["sink_rows"])
    m["sink_files"] = float(rec["sink_files"])
    late = [x["emit_ms"] - d for x in pa["appends"] for d in x["due_ms"]]
    m["gen_late_ms"] = stats.median(late) or 0.0
    return m


def per_layer(rec, a, res, tail):
    m = {k: 0.0 for k, _ in PER_LAYER}
    m.update(stream_layers(rec) if a.workload == "ingest" else span_layers(res))
    m["store_builds"] = float(rec["store_builds"])
    m["store_bytes"] = float(rec["store_bytes"])
    m["cold_pass_s"] = rec["cold_pass_s"]
    m["loadavg_start"] = rec["loadavg_start"][0]
    m["loadavg_end"] = rec["loadavg_end"][0]
    m["canary_first_ms"] = rec["canary_first_ms"]
    m["canary_last_ms"] = rec["canary_last_ms"]
    plain, traced = stats.median(res["samples"]), stats.median(res["traced_samples"])
    m["trace_overhead_pct"] = 100.0 * (traced / plain - 1.0) if plain and traced else 0.0
    m["tail_ms"] = tail["value"] or 0.0
    m["tail_pct"] = float(tail["p"] or 0)
    m["samples"] = float(len(res["samples"]))
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}


def report(rec, a, res, cpus):
    samples = res["samples"]
    p50 = stats.median(samples)
    tail = stats.tail(samples, {"curate": 90, "ingest": 95}[a.workload])
    drift = rec["canary_last_ms"] / rec["canary_first_ms"] - 1.0
    named = {"curate": {"curate_s": p50 / 1000.0 if p50 else None,
                        "curate_keys_per_s": res["throughput"]},
             "ingest": {"ingest_lat_p50_ms": p50, f"ingest_lat_p{tail['p']}_ms": tail["value"],
                        "ingest_tps": res["throughput"]}}[a.workload]
    errors = rec.get("errors", []) + [f"{k}: {v}" for k, v in res.get("bad_keys", {}).items()]
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cpus,
            "metrics": named, "samples": len(samples), "tail": tail,
            "setup_s": rec["setup_s"], "peak_rss_mb": rec["peak_rss_mb"],
            "failed_share": res["failed"] / max(1, res["attempted"]),
            "loadavg_start": rec["loadavg_start"], "loadavg_end": rec["loadavg_end"],
            "canary_first_ms": rec["canary_first_ms"], "canary_last_ms": rec["canary_last_ms"],
            "canary_drift": drift, "canary_flag": abs(drift) > CANARY_DRIFT_BOUND,
            "errors": errors[:20]}
    if a.workload != "ingest":
        per_key = {}
        for o in rec["ops"]:
            per_key.setdefault(o["key"], []).append(o["ms"])
        info["key_ms"] = {k: round(stats.median(v), 1) for k, v in sorted(per_key.items())}
        info["cold_pass_s"] = rec["cold_pass_s"]
        info["cold_key_ms"] = {k: round(v, 1) for k, v in sorted(rec["cold_key_ms"].items())}
        info["session_s"] = rec["session_s"]
    else:
        info["tps_rounds"] = res["tps_rounds"]
        info["checks"] = rec["checks"]
    print("perfbench " + json.dumps(info, sort_keys=True))
    if a.trace:
        metrics = per_layer(rec, a, res, tail)
    else:
        values = {"setup_s": rec["setup_s"], "p50_ms": p50}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    correct = res["failed"] == 0 and not errors and p50 is not None
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classes = build.ensure()
    t0 = time.time()
    work = os.path.join(build.build_root(), "runs", f"{os.getpid()}-{int(t0 * 1000)}")
    try:
        for d in ("tmp", "warehouse", "local", "results", "ckpt", "sink"):
            os.makedirs(os.path.join(work, d))
        out = os.path.join(work, "record.json")
        cpus = len(os.sched_getaffinity(0))
        code = run_jvm(java_cmd(classes, work, out, a, cpus), os.path.join(work, "jvm.log"),
                       SETUP_ALLOWANCE_S + 2 * a.seconds)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            sys.stderr.write(f"perfbench: harness exited with {code}\n")
            return 1
        with open(out) as fh:
            rec = json.load(fh)
        if a.workload == "ingest":
            res = ingest_result(rec, a)
        else:
            res = curate_result(rec, work)
        report(rec, a, res, cpus)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
