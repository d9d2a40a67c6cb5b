#!/usr/bin/env python3
"""Seeded generator of the etl_transform inputs: brokerage exports in the
AllocData layouts the program's importers detect.

- a transaction CSV with about 1 % planted rejects, covering each reject
  reason arm of the decoder (bad date, bad double, missing key);
- a holding TSV (the detector's tab-delimiter arm), also with rejects;
- a small transaction CSV for handleTransform's driver-side export.

The same seed gives identical bytes and identical planted counts. A planted
row carries exactly one defect, so its reject reason is known in advance.

Usage: python3 perfbench/etlgen.py <outDir> <seed>
"""
import json
import os
import random
import sys

TXN_ROWS = 120_000
HOLD_ROWS = 40_000
SMALL_ROWS = 2_000
REJECT_RATE = 0.01

TXN_HEADER = ["txnAction", "txnTransactedAt", "txnAccountID", "txnSecurityID", "txnLotID",
              "txnShareCount", "txnSharePrice", "realizedGainShort", "realizedGainLong"]
HOLD_HEADER = ["holdingAccountID", "holdingSecurityID", "holdingLotID", "shareCount",
               "shareBasis", "acquiredAt"]
TICKERS = ["SPY", "BND", "VTI", "AGG", "QQQ", "IWM", "EFA", "TLT", "GLD", "VNQ",
           "XLK", "XLF", "XLE", "LQD", "HYG", "SHY"]
ACTIONS = ["buy", "sell", "dividend", "interest", "transfer"]

# reject arm -> (column to spoil, spoiled value); the reason string is the
# decoder's "<label>:<field>" for the first failing field of the row
TXN_ARMS = {
    "bad_date:txnTransactedAt": (1, "2021-13-45"),
    "missing:txnAccountID": (2, ""),
    "bad_double:txnShareCount": (5, "12.5x"),
    "bad_double:txnSharePrice": (6, "n/a"),
}
HOLD_ARMS = {
    "missing:holdingSecurityID": (1, ""),
    "bad_double:shareCount": (3, "1,5"),
    "bad_double:shareBasis": (4, "--"),
    "bad_date:acquiredAt": (5, "2021-02-30"),
}


def _date(rng):
    return f"{rng.randint(2015, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _txn_row(rng):
    action = rng.choice(ACTIONS)
    shares = rng.randint(1, 5000) / 10
    price = "" if action in ("interest", "transfer") else f"{rng.uniform(5, 600):.2f}"
    short = f"{rng.uniform(-500, 500):.2f}" if action == "sell" and rng.random() < 0.5 else ""
    long_ = f"{rng.uniform(-900, 900):.2f}" if action == "sell" and not short else ""
    lot = f"L{rng.randint(1, 999)}" if rng.random() < 0.2 else ""
    return [action, _date(rng), f"ACC-{rng.randint(1, 400)}", rng.choice(TICKERS), lot,
            f"{-shares if action == 'sell' else shares}", price, short, long_]


def _hold_row(rng):
    lot = f"L{rng.randint(1, 999)}" if rng.random() < 0.5 else ""
    return [f"ACC-{rng.randint(1, 400)}", rng.choice(TICKERS), lot,
            f"{rng.randint(1, 20000) / 10}", f"{rng.uniform(10, 90000):.2f}", _date(rng)]


def _write(path, header, rows, make_row, arms, rng, sep):
    """Write one file; returns (good rows, planted reject histogram)."""
    planted = {reason: 0 for reason in arms}
    names = sorted(arms)
    lines = [sep.join(header)]
    for _ in range(rows):
        row = make_row(rng)
        if rng.random() < REJECT_RATE:
            reason = names[rng.randrange(len(names))]
            col, bad = arms[reason]
            row[col] = bad
            planted[reason] += 1
        lines.append(sep.join(row))
    with open(path, "w", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
    return rows - sum(planted.values()), planted


def generate(out_dir, seed, txn_rows=TXN_ROWS, hold_rows=HOLD_ROWS, small_rows=SMALL_ROWS):
    """Generate the three inputs and their manifest; returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"perfbench-etl-{seed}")
    files = []
    for kind, name, header, rows, make, arms, sep, detect in (
            ("txn", "transactions.csv", TXN_HEADER, txn_rows, _txn_row, TXN_ARMS, ",",
             ["transaction: CSV"]),
            ("hold", "holdings.tsv", HOLD_HEADER, hold_rows, _hold_row, HOLD_ARMS, "\t",
             ["holding: TSV"]),
            ("small", "small_transactions.csv", TXN_HEADER, small_rows, _txn_row, TXN_ARMS,
             ",", ["transaction: CSV"])):
        path = os.path.join(out_dir, name)
        good, planted = _write(path, header, rows, make, arms, rng, sep)
        files.append({"kind": kind, "path": os.path.abspath(path), "rows": rows,
                      "good": good, "rejects": {k: v for k, v in planted.items() if v},
                      "detect": detect})
    manifest = {"seed": seed, "files": files}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
