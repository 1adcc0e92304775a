#!/usr/bin/env python3
"""Benchmark entry point: build the harness, generate seeded inputs, run one
workload in fresh JVMs, gate correctness, and print one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ingest|reads> --seed <n> \
        --seconds <s> --trace <0|1>

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (listeners attached). Every run's raw record (per-op
times of every round, setup samples, per-layer counters, and the workload's
why, heap size, core count and op list) is kept under
``.bench_build/results/`` so the spread of a metric can be inspected.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the harness classpath is compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness with sbt once per source state; return the
    runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt)")
    t = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=840,
        stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    log(f"build took {time.time() - t:.1f}s")
    return lines[-1].strip()


def run_jvm(classpath, cfg, run_dir, xmx, timeout):
    """Run one harness process on `cfg` with its own empty java.io.tmpdir."""
    tmp = os.path.join(run_dir, f"tmp-{len(os.listdir(run_dir))}")
    os.makedirs(tmp)
    cfg_path = os.path.join(run_dir, f"config-{os.path.basename(tmp)}.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    # a fixed heap size (min = max) takes adaptive heap sizing out of the
    # peak RSS, which otherwise swings by ~15% between identical runs; no
    # perf-data file goes to the system temp directory
    cmd = ["java", f"-Xms{xmx}", f"-Xmx{xmx}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", cfg_path]
    log_path = os.path.join(run_dir, f"{os.path.basename(tmp)}.log")
    with open(log_path, "w") as logf:
        code = subprocess.run(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                              timeout=timeout, stdin=subprocess.DEVNULL).returncode
    if code != 0 or not os.path.exists(cfg["result"]):
        sys.stderr.write(open(log_path).read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(cfg["result"]) as f:
        return json.load(f), tmp


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (a noisy-neighbour signal recorded next to each run)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main():
    # a terminated run raises SystemExit, which makes subprocess.run kill and
    # reap the JVM it is waiting on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"engine sources not found next to {HERE}; nothing to measure")
        return 2
    import gate  # reads tools/check.py of the engine's checkout
    import report

    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in spec["workloads"]:
        log(f"unknown workload {args.workload}")
        return 2
    wl = spec["workloads"][args.workload]
    cores = len(os.sched_getaffinity(0))  # what `nproc` reports

    classpath = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        manifest = gen.generate(args.seed, os.path.join(run_dir, "data"))
        cfg = {
            "seed": args.seed, "seconds": args.seconds, "trace": bool(args.trace),
            "cores": cores, "tables": manifest["tables"],
            "ops": wl["ops"], "days": manifest["days"] if wl.get("days") else [],
            "spark_local_dir": os.path.join(run_dir, "spark-local"),
            "check_dir": os.path.join(run_dir, "check"),
        }
        # a set-up-only process gives the second set-up sample
        probe = dict(cfg, setup_only=True, result=os.path.join(run_dir, "setup.json"))
        res, tmp = run_jvm(classpath, probe, run_dir, spec["xmx"], 90)
        setup = [res["setup_s"]]
        shutil.rmtree(tmp, ignore_errors=True)
        cfg["result"] = os.path.join(run_dir, "result.json")
        steal0 = steal_s()
        res, tmp = run_jvm(classpath, cfg, run_dir, spec["xmx"],
                           args.seconds + 120)
        res["host_steal_s"] = steal_s() - steal0
        setup.append(res["setup_s"])
        res["setup_samples"] = setup
        res["scratch_bytes"] = dir_bytes(tmp)
        ingest_rounds = glob.glob(os.path.join(tmp, "ingest", "r*"))
        files = [os.path.join(d, f) for r in ingest_rounds
                 for d, _, fs in os.walk(r) for f in fs if f.endswith(".parquet")]
        res["ingest_files"] = len(files) / max(1, len(ingest_rounds))
        res["ingest_bytes"] = sum(map(os.path.getsize, files)) / max(1, len(ingest_rounds))
        verdict = gate.check(res, manifest, run_dir, tmp)
        rec = report.build(res, verdict, manifest, args, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
            results, f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(dict(rec, raw=res, verdict=verdict), f, indent=1)
    for name, why in {**verdict["ops"], **verdict["days"]}.items():
        log(f"FAIL {name}: {why}")
    print(json.dumps(rec["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
