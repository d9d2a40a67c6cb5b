#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: runs each workload once per seed, in
a fresh JVM each time, and reports for every metric the median and the
distance between its first and third quartile as a share of the median,
against the metric's bound in BENCHMARK.json.

Usage: python3 perfbench/spread.py [--runs 10] [--out FILE] [workload ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    result = {}
    for wl in workloads:
        values = {}
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not line.startswith("{"):
                print(f"{wl} seed {seed}: exit {out.returncode}\n{out.stdout}{out.stderr}",
                      file=sys.stderr)
                sys.exit(1)
            res = json.loads(line)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bounds[k], "values": vs}
            b = bounds[k]
            flag = "ok" if spread < b / 3 else ("within bound" if spread <= b else "TOO WIDE")
            print(f"  {wl:16s} {k:16s} median={med:.4g} spread={spread:.3f} bound={b} {flag}")
        result[wl] = rows
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
