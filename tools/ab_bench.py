#!/usr/bin/env python3
"""A/B comparison of two checkouts on the repository benchmark.

    python3 tools/ab_bench.py --parent A --change B --workload nightly_daily --seeds 21-30

Runs `perfbench/run.py --trace 0` once per seed on each checkout, as
alternating pairs: the parent runs first on even pair indexes and second on
odd ones, so neither side is always the warmer. Each checkout first gets one
discarded run, which also builds it, so no build lands inside a pair.

Prints, per end-to-end metric declared in BENCHMARK.json: each side's median
and quartiles, how many pairs the change won, the median change, and a
verdict:
  - "worse beyond bound": the change's median is worse than the parent's by
    more than the metric's bound;
  - "gain": the change won at least 9 of every 10 pairs, its median is
    better by more than the parent's interquartile range, and it failed no
    more ops than the parent;
  - "unresolved": either side's interquartile range exceeds the bound and
    not every change run beats every parent run;
  - "flat" otherwise.
Failed ops are counted per side. Every run's metrics also go to stderr.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_bench: {checkout} seed {seed} exited {p.returncode}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(metric, parent, change, more_failures):
    """Per-metric summary under BENCHMARK.json's bound and the 9/10 rule.
    `more_failures`: the change failed more ops than the parent, so no gain
    counts."""
    lower = metric["better"] == "lower"
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    gap = (pm - cm) if lower else (cm - pm)
    wide = (p3 - p1) / pm > metric["bound"] or (c3 - c1) / cm > metric["bound"]
    all_better = max(change) < min(parent) if lower else min(change) > max(parent)
    if worse > metric["bound"]:
        v = "worse beyond bound"
    elif wins * 10 >= 9 * len(parent) and gap > p3 - p1 and not more_failures:
        v = "gain"
    elif wide and not all_better:
        v = "unresolved"
    else:
        v = "flat"
    return {"metric": metric["name"], "unit": metric["unit"],
            "parent": [p1, pm, p3], "change": [c1, cm, c3],
            "wins": wins, "pairs": len(parent), "change_pct": 100.0 * (cm - pm) / pm,
            "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 21,23,25")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    sides = {"parent": a.parent, "change": a.change}
    seeds = parse_seeds(a.seeds)

    for side, checkout in sides.items():
        print(f"[ab_bench] build + discarded run: {side}", file=sys.stderr, flush=True)
        run(checkout, a.workload, seeds[0], seconds)
    samples = {side: [] for side in sides}
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(sides[side], a.workload, seed, seconds)
            samples[side].append(res)
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"[ab_bench] pair {i + 1}/{len(seeds)} seed {seed} {side}: "
                  f"failed {res['failed']}/{res['attempted']} {vals}",
                  file=sys.stderr, flush=True)

    failed = {side: sum(r["failed"] for r in samples[side]) for side in sides}
    more_failures = failed["change"] > failed["parent"]
    rows = []
    for m in spec["end_to_end"]:
        rows.append(verdict(m, [r["metrics"][m["name"]]["value"] for r in samples["parent"]],
                            [r["metrics"][m["name"]]["value"] for r in samples["change"]],
                            more_failures))
    def fmt(q):
        return f"{q[1]:.3f} ({q[0]:.3f}-{q[2]:.3f})"
    print(f"{a.workload}, seeds {a.seeds}, {len(seeds)} pairs")
    print(f"{'metric':<13} {'parent median (Q1-Q3)':<30} {'change median (Q1-Q3)':<30} "
          f"{'wins':<6} {'change':>7}  verdict")
    for r in rows:
        print(f"{r['metric']:<13} {fmt(r['parent']):<30} {fmt(r['change']):<30} "
              f"{r['wins']}/{r['pairs']:<3} {r['change_pct']:>+6.1f}%  {r['verdict']}")
    for side in sides:
        attempted = sum(r["attempted"] for r in samples[side])
        print(f"{side}: {failed[side]} of {attempted} ops failed")


if __name__ == "__main__":
    main()
