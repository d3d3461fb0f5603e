#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (benchmark/build.py), runs
the workload in one JVM (one local[4] Spark session, one closed-loop
client), checks the outputs in DuckDB against computations that do not
go through graft's operators, and prints one JSON summary as the last
line of stdout. With --trace 0 the summary holds the end-to-end metrics,
with --trace 1 the per-layer metrics of a traced run. The full record of
the run goes to .bench_build/records/. Exits nonzero when any check
fails.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import checks  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("table_sync", "llm_pipeline")
# A run must end within 180 s, and the DuckDB checks after the JVM take a
# few seconds. A traced run's JVM takes about 110 s on a quiet 4-vCPU host.
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Metric names and units: BENCHMARK.json at the root of the checkout.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# The closed-loop operations whose latency is op_p50_s / op_p90_s: an
# incremental CDC cycle, a single top-10 query.
OP_PREFIX = {"table_sync": "cycle_", "llm_pipeline": "query_"}


def percentile(values, q):
    """Linear-interpolated percentile (q in 0..100)."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(workload: str, seed: int, seconds: float, trace: int, work: Path,
            cds_flag: str) -> dict:
    """Runs one benchmark JVM in `work`; returns its run record."""
    record = work / "record.json"
    for d in ("tmp", "spark-local", "checkpoint", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["SPARK_GRAFT_CHECKPOINT_DIR"] = str(work / "checkpoint")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap and young generation: collections then come at the same
    # points of the allocation stream in every run, which keeps
    # peak_heap_mb (the heap in use after a collection) from following
    # G1's adaptive sizing. -Xms matters most: a heap that starts small
    # and grows keeps crossing G1's marking threshold (45 % of the current
    # heap), so Spark's humongous buffer allocations start concurrent
    # marking cycles; their number varied about twofold between runs, and
    # the runs with the most were the slowest in every phase.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn256m", "-Xss8m",
           "-XX:-UsePerfData", *opens, cds_flag,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dderby.system.home={work / 'tmp'}",
           "-cp", build.classpath(),
           "graftbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", str(work), "--record", str(record)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=str(work),
                                env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    if code != 0 or not record.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"benchmark JVM exited with {code}")
    return json.loads(record.read_text())


def end_to_end(rec: dict, check: dict) -> dict:
    passes = rec["pass_s"]
    # Input rows per second of the batch part (export_snapshot, curate_dedup).
    rates = [b["rows"] / b["s"] for b in rec["batch_runs"]]
    prefix = OP_PREFIX[rec["workload"]]
    ops = [o["s"] for o in rec["op_latency_s"] if o["op"].startswith(prefix)]
    values = {  # every end-to-end metric of BENCHMARK.json
        "setup_s": rec["setup_s"],
        "run_s": statistics.median(passes),
        "rows_per_s": statistics.median(rates),
        "op_p50_s": percentile(ops, 50),
        "op_p90_s": percentile(ops, 90),
        "sink_bytes_per_row": check["sink_bytes"] / max(1, check["sink_rows"]),
        "peak_heap_mb": rec["peak_heap_mb"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in SPEC["end_to_end"]}


def per_layer(rec: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload does
    not reach reads 0.
    """
    return {m["name"]: {"value": rec["layer"].get(m["name"], 0.0), "unit": m["unit"]}
            for m in SPEC["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    started = time.time()
    work = build.BUILD / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with build.lock():
        build.build()
        if not build.CDS.is_file():
            # Part of the build: one short run writes the class-data archive.
            shutil.rmtree(work, ignore_errors=True)
            work.mkdir(parents=True)
            try:
                run_jvm("table_sync", 0, 0, 0, work, f"-XX:ArchiveClassesAtExit={build.CDS}")
            finally:
                shutil.rmtree(work, ignore_errors=True)
            if not build.CDS.is_file():  # the JVM could not write one; run without
                build.CDS.write_bytes(b"")
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.time()
        cds = f"-XX:SharedArchiveFile={build.CDS}" if build.CDS.stat().st_size else "-Xshare:auto"
        rec = run_jvm(args.workload, args.seed, args.seconds, args.trace, work, cds)
        t1 = time.time()
        check = checks.run(rec)
        rec["jvm_wall_s"], rec["checks_s"] = t1 - t0, time.time() - t1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = list(rec["errors"]) + check["failures"]
    attempted = max(1, int(rec["attempted"]))
    failed = min(attempted, int(rec["failed"]) + len(check["failures"]))
    metrics = per_layer(rec) if args.trace else end_to_end(rec, check)
    rec["checks"] = check
    rec["metrics"] = metrics
    rec["wall_s"] = time.time() - started
    records = build.BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(rec, indent=1))
    for f in failures:
        sys.stderr.write(f"FAILED: {f}\n")
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
