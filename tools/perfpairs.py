#!/usr/bin/env python3
"""Alternating benchmark pairs of two checkouts, and the verdict on a claim.

    python3 tools/perfpairs.py <parent-checkout> <change-checkout> \
        --workload engine_read --pairs 10 --seed 500 [--seconds 10]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds T
--trace 0` once in each checkout, each through that checkout's own
perfbench; the parent runs first in even pairs and the change first in
odd ones. Printed: every pair's end-to-end readings, each side's median
and interquartile range, the change's wins per metric (ties count for
neither side), the per-kind p50 from `detail.by_kind` of the run records
when the workload has one, and for each metric the verdict of a claimed
gain: at least ten pairs, the change wins at least nine tenths of them and
the medians differ by more than the parent's interquartile range. A failed
run stops the script. --json writes every reading to a file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: run.py exited {p.returncode}\n{p.stderr[-2000:]}")
    contract = json.loads(lines[-1])
    if not contract["correct"]:
        sys.exit(f"{checkout}: seed {seed} was not correct: {lines[-1]}")
    with open(os.path.join(checkout, "perfbench", "out", f"{workload}-seed{seed}-trace0.json")) as f:
        by_kind = json.load(f)["detail"].get("by_kind", {})
    return {"metrics": {k: v["value"] for k, v in contract["metrics"].items()},
            "by_kind": {k: v["p50_s"] for k, v in by_kind.items()}}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--json", help="write every reading to this file")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run(sides[side], a.workload, a.seed + i, a.seconds))
        print(f"pair {i + 1} seed {a.seed + i} ({order[0]} first)", flush=True)
        for side in ("parent", "change"):
            m = runs[side][-1]["metrics"]
            print(f"  {side:<7} " + "  ".join(f"{k}={m[k]:.6g}" for k in better), flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed}-{a.seed + a.pairs - 1}")
    print(f"{'metric':<14} {'parent median (IQR)':>26} {'change median (IQR)':>26} {'wins':>6}  claim")
    for name, direction in better.items():
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        (p25, pm, p75), (c25, cm, c75) = quartiles(p), quartiles(c)
        wins = sum((y < x) if direction == "lower" else (y > x) for x, y in zip(p, c))
        gain = (pm - cm) if direction == "lower" else (cm - pm)
        holds = a.pairs >= 10 and wins * 10 >= 9 * a.pairs and gain > p75 - p25
        print(f"{name:<14} {pm:>14.6g} ({p75 - p25:<9.3g}) {cm:>14.6g} ({c75 - c25:<9.3g}) "
              f"{wins:>3}/{a.pairs}  {'holds' if holds else 'not shown'}")
    kinds = sorted(set().union(*(r["by_kind"] for rs in runs.values() for r in rs)))
    if kinds:
        print(f"\n{'kind p50 (µs)':<14} {'parent median':>14} {'change median':>14}")
        for k in kinds:
            med = {s: statistics.median(r["by_kind"][k] for r in runs[s]) * 1e6 for s in runs}
            print(f"{k:<14} {med['parent']:>14.2f} {med['change']:>14.2f}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "sides": sides, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
