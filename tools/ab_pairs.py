#!/usr/bin/env python3
"""A/B a change against its parent with alternating perfbench pairs.

    python3 tools/ab_pairs.py PARENT_CHECKOUT CHANGE_CHECKOUT \
        --workload records_etl --seeds 41-50 [--seconds 6] [--trace 0] [--out ab.json]

Each seed is one pair: one `perfbench/run.py` run in each checkout (a fresh
JVM each, run from that checkout's root so each builds its own sources), the
parent first on even pair numbers and the change first on odd ones, so drift
on the box does not favour one side. Seeds are a comma list and/or ranges
(`11-13,31-34`).

Per metric it prints each side's median and quartiles, the median per-pair
ratio (change / parent), the pairs the change won (by the metric's
`better` direction in the change's BENCHMARK.json; lower when unlisted) and
a verdict: `gain` when the change won at least 9 of 10 pairs and its median
is better than the parent's by more than the parent's interquartile range,
`worse` when the same holds the other way, else `no claim`. A run that is
not `correct` is reported, its metrics are left out, and its pair still
counts among the pairs run, so it can be neither won nor lost; each side's
failed runs are printed, and a change that failed more runs than the parent
gets no `gain`. Stdlib only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        out.extend(range(int(lo), int(hi) + 1) if hi else [int(lo)])
    return out


def directions(checkout):
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError:
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return {"correct": False, "metrics": {}}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (None, None)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(pairs, n, parent, change, lower, more_failures):
    """`pairs` holds the (parent, change) values of the pairs in which both
    runs were correct; `n` counts every pair run."""
    if not pairs:
        return 0, "no pairs"
    wins = sum((c < p) if lower else (c > p) for p, c in pairs)
    losses = sum((c > p) if lower else (c < p) for p, c in pairs)
    q1, q3 = quartiles(parent)
    iqr = q3 - q1
    gap = statistics.median(parent) - statistics.median(change)
    if not lower:
        gap = -gap
    if wins >= 0.9 * n and gap > iqr and not more_failures:
        return wins, "gain"
    if losses >= 0.9 * n and -gap > iqr:
        return wins, "worse"
    return wins, "no claim"


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 41-50 or 11,12,31-34")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for i, seed in enumerate(seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "order": list(order)}
        for side in order:
            r = run(sides[side], args.workload, seed, args.seconds, args.trace)
            pair[side] = r
            if not r.get("correct"):
                print(f"seed {seed}: {side} run not correct "
                      f"(attempted {r.get('attempted')}, failed {r.get('failed')})", file=sys.stderr)
        runs.append(pair)
        line = " ".join(f"{s}={fmt(pair[s]['metrics'].get('run_s', {}).get('value'))}"
                        for s in order)
        print(f"pair {i + 1} seed {seed}: {line}", file=sys.stderr, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    failed = {s: sum(not r[s].get("correct") for r in runs) for s in sides}
    better = directions(sides["change"])
    names = sorted({k for r in runs for s in sides for k in r[s]["metrics"]})
    print(f"{args.workload}: {len(runs)} pairs, seeds {args.seeds}; failed runs: "
          f"parent {failed['parent']}, change {failed['change']}")
    print(f"{'metric':30s} {'parent med [q1, q3]':>28s} {'change med [q1, q3]':>28s} "
          f"{'ratio':>6s} {'wins':>6s}  verdict")
    for name in names:
        pairs = []
        for r in runs:
            vals = [r[s]["metrics"].get(name, {}).get("value") if r[s].get("correct") else None
                    for s in ("parent", "change")]
            if None not in vals:
                pairs.append(tuple(vals))
        if not pairs:
            continue
        parent, change = [p for p, _ in pairs], [c for _, c in pairs]
        wins, v = verdict(pairs, len(runs), parent, change, better.get(name, "lower") == "lower",
                          failed["change"] > failed["parent"])
        ratios = [c / p for p, c in pairs if p]
        pq, cq = quartiles(parent), quartiles(change)
        print(f"{name:30s} {fmt(statistics.median(parent)):>10s} [{fmt(pq[0])}, {fmt(pq[1])}]"
              f"{'':>4s}{fmt(statistics.median(change)):>10s} [{fmt(cq[0])}, {fmt(cq[1])}]"
              f" {fmt(statistics.median(ratios)) if ratios else '-':>6s}"
              f" {wins:>2d}/{len(runs):<3d}  {v}")


if __name__ == "__main__":
    main()
