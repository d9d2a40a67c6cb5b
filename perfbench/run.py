#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs the workload in one fresh JVM on
local[nproc], checks every output, and prints the metrics. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics derived from the run's trace. The run's
files (report, trace, JVM log) stay under .bench_build/runs/. Exits non-zero
on any failed operation or correctness check. See perfbench/README.md.

Developer flag: --record rewrites perfbench/expected/queries.json from a
verification pass (review the diff before committing it).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import etlgen  # noqa: E402
import ledger  # noqa: E402

WORKLOADS = ("etl_transform", "query_mix", "ann_artifacts", "streaming_twins")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "queries.json")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p75(xs):
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=4)[2]


def end_to_end(report, expected_rows):
    """End-to-end metrics from an untraced (or traced) run's report."""
    ops = report["ops"]
    wl = report["workload"]
    if wl == "ann_artifacts":
        walls = [o["wall_s"] for o in ops if o["phase"] == "cycle"]
        samples = [o["wall_s"] for o in ops if o["phase"] == "cold"]
        serve = [o["wall_s"] for o in ops if o["phase"] == "serve"]
    else:
        walls = report["pass_walls"]
        samples = [o["wall_s"] for o in ops if o["phase"] == "timed"]
        serve = samples
    if wl == "etl_transform":
        per_pass = {}
        for o in ops:
            if o["phase"] == "timed" and o["name"].startswith(("transform:", "handle_transform")):
                per_pass[o["pass"]] = per_pass.get(o["pass"], 0) + o["rows"]
        rows = median(list(per_pass.values()))
    else:
        rows = sum(expected_rows.values())
    wall = median(walls)
    return {
        "setup_s": (report["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (median(samples), "s"),
        "op_p75_s": (p75(samples), "s"),
        "etl_rows_per_s": (rows / wall, "rows/s"),
        "serve_p50_s": (median(serve), "s"),
        "peak_rss_mb": (report["peak_rss_mb"], "MB"),
    }, {"op samples": len(samples), "serve samples": len(serve), "passes": len(walls)}


def check_queries(report, expected, record):
    """Compare every query result's row count and content hash with the
    recorded ones. Returns (failures, rows per query)."""
    failures, rows = [], {}
    for c in report["checks"]:
        name = c["name"]
        if not name.startswith("q"):
            continue  # pipeline checks: judged and counted by the harness
        got = {"rows": c["rows"], "hash": c["hash"]}
        if record and name not in rows:
            expected[name] = got
        rows[name] = c["rows"]
        want = expected.get(name)
        if want is None:
            failures.append(f"{name}: no recorded result")
        elif want != got:
            failures.append(f"{name}: rows/hash {got['rows']}/{got['hash']} "
                            f"!= recorded {want['rows']}/{want['hash']}")
    return failures, rows


def run_jvm(args, cp, work, manifest):
    jvm = (["java"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), DATA, work] + ([manifest] if manifest else []))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(jvm, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s; see {work}/jvm.log")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    cp = build.build()
    if not os.path.isdir(DATA):
        raise RuntimeError(f"missing input tables {DATA}")
    work = os.path.join(build.BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    manifest = None
    if args.workload == "etl_transform":
        # generated before the JVM starts and flushed to disk, so neither
        # the generation nor its write-back lands in any metric
        with open(etlgen.__file__, "rb") as fh:
            version = hashlib.sha256(fh.read()).hexdigest()[:12]
        etl_dir = os.path.join(build.BUILD, "etl", f"{version}-{args.seed}")
        manifest = os.path.join(etl_dir, "manifest.json")
        if not os.path.exists(manifest):  # the manifest is written last
            shutil.rmtree(os.path.dirname(etl_dir), ignore_errors=True)  # one seed cached
            etlgen.generate(etl_dir, args.seed)
            os.sync()

    t0 = time.time()
    rc = run_jvm(args, cp, work, manifest)
    report_path = os.path.join(work, "report.json")
    if rc != 0 or not os.path.exists(report_path):
        raise RuntimeError(f"harness exited {rc}; see {work}/jvm.log")
    with open(report_path) as fh:
        report = json.load(fh)
    for d in ("tmp", "spark-local", "warehouse", "etl_out"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    failures, rows = check_queries(report, expected, args.record)
    if args.record:
        with open(EXPECTED, "w") as fh:
            json.dump(dict(sorted(expected.items())), fh, indent=1)
            fh.write("\n")
    attempted = report["attempted"]
    failed = report["failed"] + len(failures)
    failures += report["errors"]

    metrics, counts = end_to_end(report, rows)
    if args.trace:
        layer, ledger_failures = ledger.per_layer(report, os.path.join(work, "trace.jsonl"))
        failures += ledger_failures
        failed += len(ledger_failures)
        layer["failed_ratio"] = (failed / attempted, "ratio")
        metrics = layer

    for k, (v, unit) in list(metrics.items()):
        if not math.isfinite(v):  # nothing was measured: never a number to compare
            failures.append(f"{k} not measured")
            metrics[k] = (0.0, unit)
    correct = not failures and failed == 0
    for f in failures:
        print(f"FAIL {f}")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"jvm={time.time() - t0:.1f}s " + " ".join(f"{k}={v}" for k, v in counts.items()))
    for k, (v, unit) in metrics.items():
        print(f"# {k} = {v:.6g} {unit}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 - any set-up failure: no result line
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
