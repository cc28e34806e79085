#!/usr/bin/env python3
"""Paired A/B of two checkouts on one kgbench workload.

    python3 tools/ab.py --parent DIR --change DIR --workload topic \
        --seeds 1311-1320 [--traced-seed 1321]

Each checkout runs its own kgbench/run.py (from its own root, so each
builds and measures its own source) on the same seed for the parent
BENCHMARK.json's `run_seconds`, one pair per seed, alternating which
side runs first. A pair with a failed or incorrect run is dropped from
the medians and counted against its side. Prints every pair, then for
every end-to-end metric of the parent's BENCHMARK.json the medians, the
parent's interquartile range, the win count and two verdicts. A gain
needs at least ten pairs, the change to fail no more runs than the
parent, to win at least 9/10 of the pairs and the medians to differ by
more than the parent's IQR. A regression is a change median worse
than the parent's by more than the metric's bound (a fraction of the
parent median), and the metric is unresolved when the parent's own IQR
is wider than that bound, unless every run of the change is better
than every run of the parent.

With --traced-seed N it then makes one traced run (--trace 1) per side
on seed N and prints every per-layer metric whose value differs,
parent -> change, so the layer that moved shows in the same report.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """'1311-1316' or '1311,1313,1400'."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(root, workload, seed, seconds, trace=0):
    """One kgbench run in `root`; returns its result JSON (None on failure)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "kgbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--traced-seed", type=int,
                    help="after the pairs, one traced run per side on this seed")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            res = run(sides[side], args.workload, seed, seconds)
            if res is None or not res.get("correct"):
                failed[side] += 1
                res = None
            got[side] = res
        if any(r is None for r in got.values()):
            bad = " and ".join(side for side in order if got[side] is None)
            print(f"seed {seed}: {bad} run failed or incorrect, pair dropped", flush=True)
            continue
        for side in order:
            runs[side].append({m: v["value"] for m, v in got[side]["metrics"].items()})
        cells = "  ".join(
            f"{side[0]} " + " ".join(f"{m['name']}={got[side]['metrics'][m['name']]['value']:.4g}"
                                     for m in metrics)
            for side in order)
        print(f"seed {seed} ({order[0]} first): {cells}", flush=True)

    n = len(runs["parent"])
    print(f"\n{args.workload}: {n} pairs; runs failed or incorrect: "
          f"parent {failed['parent']}, change {failed['change']}")
    if n == 0:
        sys.exit(1)
    for m in metrics:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        iqr = q3 - q1

        def better(a, b):
            return a < b if lower else a > b

        wins = sum(better(b, a) for a, b in zip(p, c))
        gain = (n >= 10 and failed["change"] <= failed["parent"] and wins >= 0.9 * n
                and better(cm, pm) and abs(cm - pm) > iqr)
        worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
        all_better = all(better(x, y) for x in c for y in p)
        if iqr / pm > bound and not all_better:
            regression = "unresolved"  # the parent's own spread is wider than the bound
        elif worse_by > bound:
            regression = "REGRESSION"
        else:
            regression = "none"
        print(f"  {name}: parent median {pm:.4g} [Q1 {q1:.4g}, Q3 {q3:.4g}, IQR {iqr:.4g}] "
              f"change median {cm:.4g} ({(cm - pm) / pm:+.1%}); change won {wins}/{n}; "
              f"gain {'claimable' if gain else 'not shown'}; "
              f"regression past bound {bound}: {regression}")
    if args.traced_seed is not None:
        traced(sides, args.workload, args.traced_seed, seconds,
               [m["name"] for m in bench["per_layer"]])


def traced(sides, workload, seed, seconds, names):
    """One traced run per side; prints each per-layer metric that moved."""
    got = {side: run(root, workload, seed, seconds, trace=1) for side, root in sides.items()}
    print(f"\ntraced {workload}, seed {seed}:")
    bad = [side for side, res in got.items() if res is None or not res.get("correct")]
    if bad:
        print(f"  {' and '.join(bad)} traced run failed or incorrect")
        return
    p, c = ({m: v["value"] for m, v in got[side]["metrics"].items()}
            for side in ("parent", "change"))
    same = 0
    for name in names:
        a, b = p[name], c[name]
        if a == b:
            same += 1
        else:
            rel = f" ({(b - a) / a:+.1%})" if a else ""
            print(f"  {name}: {a:.4g} -> {b:.4g}{rel}")
    print(f"  {same} per-layer metrics unchanged")


if __name__ == "__main__":
    main()
