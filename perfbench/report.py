"""Turn one harness record into the benchmark's result line.

End-to-end metrics (``--trace 0``) are round-level aggregates: single-op
times differ by 20-40% between processes, so the warm figures are medians
over rounds 2..R, and per-op latency is the geometric mean of each op's warm
median: every op weighs the same, and unlike a median over a dozen ops it
does not jump when two ops of similar latency swap ranks. Per-layer metrics
(``--trace 1``) are per-warm-round means over the warm rounds; a traced run
also reports its own end-to-end metrics as ``trace.<name>``, so the tracing
overhead is the difference between traced and untraced runs
(``spread.py --traced``).

Metric names, units and the workloads' whys are read from BENCHMARK.json.
"""
import json
import math
import os
import statistics

BENCH = json.load(open(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
# Modules an op is called through (its `layer` in workloads.json). The Drain
# layer is measured by the streaming.* phase metrics of the drains instead.
LAYERS = [m["name"][:-len(".busy_s")] for m in BENCH["per_layer"]
          if m["name"].endswith(".busy_s")]
SPARK = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
         "sched_gap_s", "core_util", "shuffle_write_bytes", "shuffle_read_bytes",
         "spill_bytes", "input_bytes", "input_records", "output_bytes", "task_skew"]
PHASES = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
          "planning_s": "queryPlanning", "wal_commit_s": "walCommit",
          "commit_offsets_s": "commitOffsets", "latest_offset_s": "latestOffset"}


def _warm_op_medians(rounds, kinds=None):
    per = {}
    for r in rounds[1:]:
        for o in r["ops"]:
            if o["ok"] and (kinds is None or o["kind"] in kinds):
                per.setdefault(o["name"], []).append(o["s"])
    return {k: statistics.median(v) for k, v in per.items()}


def end_to_end(res):
    rounds = res["rounds"]
    ops = _warm_op_medians(rounds).values()
    return {
        "setup_s": statistics.median(res["setup_samples"]),
        "cold_s": rounds[0]["wall_s"],
        "warm_round_s": statistics.median(r["wall_s"] for r in rounds[1:]),
        "op_gmean_s": math.exp(statistics.fmean(map(math.log, ops))),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _spark_totals(ops, cores):
    t = {k: 0.0 for k in SPARK}
    skews = []
    wall = 0.0
    for o in ops:
        c = o["trace"]
        wall += o["s"]
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes",
                  "input_records", "output_bytes"):
            t[k] += c[k]
        t["task_run_s"] += c["task_run_ms"] / 1000.0
        t["task_cpu_s"] += c["task_cpu_ns"] / 1e9
        t["task_gc_s"] += c["task_gc_ms"] / 1000.0
        t["sched_gap_s"] += max(0.0, o["s"] - c["task_run_ms"] / 1000.0 / cores)
        skews += [mx / (s / n) for mx, s, n in c["stage_tasks"] if n >= 2 and s > 0]
    t["core_util"] = t["task_run_s"] / (wall * cores) if wall > 0 else 0.0
    t["task_skew"] = statistics.mean(skews) if skews else 1.0
    return t


def per_layer(res, verdict, manifest):
    rounds = res["rounds"]
    cores = res["cores"]
    warm = rounds[1:]
    n = max(1, len(warm))
    m = {}
    all_ops = [o for r in warm for o in r["ops"]]
    for k, v in _spark_totals(all_ops, cores).items():
        m[f"spark.{k}"] = v if k in ("core_util", "task_skew") else v / n
    med = _warm_op_medians(rounds)
    first = {o["name"]: o["s"] for o in rounds[0]["ops"]}
    for layer in LAYERS:
        lops = [o for o in all_ops if o["layer"] == layer]
        tot = _spark_totals(lops, cores)
        m[f"{layer}.busy_s"] = sum(o["s"] for o in lops) / n
        m[f"{layer}.cold_extra_s"] = sum(
            first[o["name"]] - med[o["name"]] for o in rounds[0]["ops"]
            if o["layer"] == layer and o["name"] in med)
        m[f"{layer}.sched_gap_s"] = tot["sched_gap_s"] / n
        m[f"{layer}.task_run_s"] = tot["task_run_s"] / n

    days = [o for o in all_ops if o["kind"] == "day"]
    for k in ("append_s", "append_keyed_s", "append_fx_s"):
        m[f"etl.{k}"] = sum(o["sub"].get(k, 0.0) for o in days) / n
    m["etl.files_written"] = res.get("ingest_files", 0)
    raw = sum(d["raw_bytes"] for d in manifest["days"])
    m["etl.write_amp"] = res.get("ingest_bytes", 0) / raw if days and raw else 0.0
    m["etl.retry_rows_landed"] = verdict["retry_rows_landed"]

    stream = [o for o in all_ops if o["trace"]["batches"] > 0]
    ph = {k: sum(o["trace"]["phase_ms"].get(v, 0) for o in stream) / 1000.0 / n
          for k, v in PHASES.items()}
    m["streaming.batches"] = sum(o["trace"]["batches"] for o in stream) / n
    m["streaming.input_rows"] = sum(o["trace"]["batch_input_rows"] for o in stream) / n
    for k, v in ph.items():
        m[f"streaming.{k}"] = v
    m["streaming.overhead_share"] = (
        (ph["trigger_s"] - ph["add_batch_s"]) / ph["trigger_s"] if ph["trigger_s"] else 0.0)

    m["cache.rdds"] = res["cache_rdds"]
    m["cache.mem_bytes"] = res["cache_mem_bytes"]
    m["scratch.bytes"] = res["scratch_bytes"]
    m["jvm.gc_s"] = res["jvm_gc_s"]
    m["jvm.heap_peak_mb"] = res["jvm_heap_peak_mb"]

    for k, v in end_to_end(res).items():
        m[f"trace.{k}"] = v
    dmed = _warm_op_medians(rounds, {"day"})
    drains = _warm_op_medians(rounds, {"drain"})
    m["ingest.day_p50_s"] = statistics.median(dmed.values()) if dmed else 0.0
    load_s = sum(o["s"] for o in days)
    rows = sum(d["rows"] for d in manifest["days"]) * len(
        [r for r in warm if any(o["kind"] == "day" for o in r["ops"])])
    m["ingest.load_rows_per_s"] = rows / load_s if load_s else 0.0
    m["ingest.drain_p50_s"] = statistics.median(drains.values()) if drains else 0.0
    return m


def build(res, verdict, manifest, args, spec):
    execs = [o for r in res["rounds"] for o in r["ops"]]
    attempted = len(execs)
    # an op that fails its oracle counts as failed in every round it ran;
    # each wrong day of each round counts once
    failed = sum(1 for o in execs if not o["ok"] or o["name"] in verdict["ops"])
    failed = min(attempted, failed + len(verdict["days"]))
    if args.trace:
        metrics = per_layer(res, verdict, manifest)
        metrics["run.fail_ratio"] = failed / attempted
        metrics["run.ops_attempted"] = attempted
    else:
        metrics = end_to_end(res)
    out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    line = {"correct": failed == 0,
            "attempted": attempted, "failed": failed, "metrics": out}
    why = {w["name"]: w["why"] for w in BENCH["workloads"]}
    summary = {
        "workload": args.workload, "why": why.get(args.workload),
        "xmx": spec["xmx"], "cores": res["cores"],
        "ops": [o["name"] for o in res["rounds"][0]["ops"]],
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "rounds": len(res["rounds"]),
        "round_wall_s": [r["wall_s"] for r in res["rounds"]],
        "setup_samples": res["setup_samples"],
        "end_to_end": end_to_end(res),
    }
    return {"line": line, "summary": summary}
