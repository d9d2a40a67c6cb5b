#!/usr/bin/env python3
"""One-off cross-check of the recorded query results against DuckDB.

For every benchmark query that has oracle SQL, runs the repository's own
scripts/verify.sh (graft.Verify dump + scripts/check.py DuckDB compare) on
the benchmark's input tables, and compares DuckDB-verified row counts with
the row counts recorded in perfbench/expected/queries.json. Writes the
outcome to perfbench/expected/crosscheck.json. Needs the full repository
(scripts/, sbt) and python3 with duckdb and pandas.

Usage: python3 perfbench/crosscheck.py
"""
import json
import os
import re
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
OUT = os.path.join(ROOT, ".bench_build", "crosscheck")


def main():
    with open(os.path.join(HERE, "expected", "queries.json")) as fh:
        recorded = json.load(fh)
    proc = subprocess.run(["bash", "scripts/verify.sh", DATA, OUT] + sorted(recorded),
                          cwd=ROOT, capture_output=True, text=True)
    with open(os.path.join(OUT, "oracle_sql.json")) as fh:
        has_oracle = set(json.load(fh))
    verdicts = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+)(?: \((\d+) rows\))?", line)
        if m:
            verdicts[m.group(2)] = (m.group(1), int(m.group(3)) if m.group(3) else None)
    result = {}
    for name in sorted(recorded):
        if name not in has_oracle:
            result[name] = {"oracle": False}
            continue
        verdict, rows = verdicts.get(name, ("MISSING", None))
        result[name] = {"oracle": True, "duckdb": verdict, "verified_rows": rows,
                        "recorded_rows": recorded[name]["rows"],
                        "rows_match": rows == recorded[name]["rows"]}
    with open(os.path.join(HERE, "expected", "crosscheck.json"), "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    bad = [n for n, r in result.items()
           if r["oracle"] and not (r["duckdb"] == "PASS" and r["rows_match"])]
    print(f"{sum(r['oracle'] for r in result.values())} with oracle SQL, "
          f"{len(bad)} diverging: {bad}")


if __name__ == "__main__":
    main()
