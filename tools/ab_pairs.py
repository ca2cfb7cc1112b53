#!/usr/bin/env python3
"""Alternating same-host A/B of two checkouts on one prodbench workload (dev tool).

Usage:
    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload index_ingest \\
        --seeds 331-340 [--seconds 15] [--json results.json]

For each seed it runs `python3 prodbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one after the other; the
side that runs first alternates from pair to pair, so a drift in the
host's speed during the session does not favour one side. Each run's
last stdout line is prodbench's result JSON.

Then, for every end-to-end metric that BENCHMARK.json (in PARENT_DIR)
declares, it prints each side's median and quartiles, how many pairs the
change won (a better value than the parent's in the same pair, by the
metric's "better" direction), and whether the claim rule holds: the
change wins at least 9 of every 10 pairs, and its median is better than
the parent's by more than the parent's interquartile range. Quartiles
are linearly interpolated (statistics.quantiles, "inclusive").

A run that exits non-zero, reports failed operations or wrong results,
or prints no result line drops its pair from the comparison; the tool
says so and exits 1 if any pair was dropped.

--seeds takes a range (331-340) or a comma list (1,4,9).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        else:
            seeds.append(int(part))
    return seeds


def end_to_end(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "prodbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    started = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    took = time.time() - started
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    ok = (p.returncode == 0 and result is not None and result.get("correct")
          and not result.get("failed"))
    if not ok:
        tail = "\n".join(p.stderr.strip().splitlines()[-15:])
        print("  run failed (rc %d) in %s, seed %d:\n%s" % (p.returncode, checkout, seed, tail),
              file=sys.stderr)
        return None, took
    return {k: v["value"] for k, v in result["metrics"].items()}, took


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--json", help="write every run's metrics to this file")
    args = p.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    metrics = end_to_end(sides["parent"])
    pairs, dropped = [], []
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side], took = run_once(sides[side], args.workload, seed, args.seconds)
            shown = "failed" if got[side] is None else "  ".join(
                "%s=%.4g" % (m, got[side][m]) for m, _ in metrics if m in got[side])
            print("pair %d seed %d %-6s %s  (%.0f s)" % (i + 1, seed, side, shown, took),
                  file=sys.stderr, flush=True)
        if got["parent"] is None or got["change"] is None:
            dropped.append(seed)
        else:
            pairs.append({"seed": seed, "first": order[0], **got})

    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "sides": sides, "pairs": pairs,
                       "dropped_seeds": dropped}, f, indent=1)

    n = len(pairs)
    print("workload %s: %d pairs (%d dropped), parent %s, change %s"
          % (args.workload, n, len(dropped), sides["parent"], sides["change"]))
    if n == 0:
        return 1
    need = math.ceil(0.9 * n)
    for name, better in metrics:
        par = [pr["parent"][name] for pr in pairs]
        chg = [pr["change"][name] for pr in pairs]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gain = sign * (cmed - pmed)
        holds = wins >= need and gain > pq3 - pq1
        print("%-12s parent median %.4g (q1 %.4g, q3 %.4g)  change median %.4g (q1 %.4g, q3 %.4g)"
              % (name, pmed, pq1, pq3, cmed, cq1, cq3))
        print("%-12s change %+.1f%%, wins %d of %d (need %d), parent IQR %.4g: claim %s"
              % ("", 100.0 * (cmed - pmed) / pmed if pmed else 0.0, wins, n, need,
                 pq3 - pq1, "holds" if holds else "does not hold"))
    return 1 if dropped else 0


if __name__ == "__main__":
    sys.exit(main())
