#!/usr/bin/env python3
"""Alternating A/B pairs of the perfbench benchmark between two checkouts.

Usage:

    python3 scripts/ab_pairs.py --parent <checkout> --change <checkout> \
        --workload index_build --seeds 301-310 [--seconds 16] [--trace 0] \
        [--json pairs.json]

For each seed, runs `perfbench/run.py` once in each checkout, one after the
other, alternating which side runs first (even pairs: parent first). Every
figure of a run is read from the checkout's
`.bench_build/perfbench/last-<workload>-<seed>-trace<t>.json`, so the
workload's own figures (such as `append_p50_ms`) are compared too, and with
`--trace 1` the per-layer figures.

Prints, per figure: each side's median and quartiles, how many pairs the
change wins (ties count for neither side) and whether a gain could be
claimed: the change wins at least nine tenths of the pairs and the medians
differ by more than the parent's interquartile range. Neither checkout is
modified; each builds its own harness from its own sources.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace):
    """All figures of one run as {name: (value, better)}, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        return None
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(checkout, ".bench_build", "perfbench",
                        f"last-{workload}-{seed}-trace{trace}.json")
    with open(path) as f:
        res = json.load(f)
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["per_layer"]}
    figs = {f["name"]: (f["value"], f["better"]) for f in res.get("figures", [])}
    for name, m in res.get("per_layer", {}).items():
        figs[name] = (m["value"], better.get(name, "lower"))
    figs["correct"] = (1.0 if last["correct"] else 0.0, "higher")
    return figs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def number(x):
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310 or 5,7,9")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="write every pair's figures here")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    pairs, failed = [], []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side] = run(sides[side], args.workload, seed, args.seconds, args.trace)
            if got[side] is None:
                failed.append((seed, side))
            print(f"[ab_pairs] seed {seed} {side}: "
                  + ("FAILED" if got[side] is None else "ok"), file=sys.stderr, flush=True)
        if all(got.values()):
            pairs.append({"seed": seed, "first": order[0], **got})
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "trace": args.trace, "failed_runs": failed, "pairs": pairs}, f, indent=1)

    n = len(pairs)
    print(f"{args.workload}: {n} pairs, trace {args.trace}, {args.seconds} s windows; "
          f"failed runs: {failed or 'none'}")
    print(f"{'figure':<38} {'parent median [q1, q3]':>32} {'change median [q1, q3]':>32} "
          f"{'wins':>6}  claim")
    names = sorted({k for p in pairs for k in p["parent"]} & {k for p in pairs for k in p["change"]})
    for name in names:
        rows = [(p["parent"][name], p["change"][name]) for p in pairs
                if name in p["parent"] and name in p["change"]
                and number(p["parent"][name][0]) and number(p["change"][name][0])]
        if not rows:
            continue
        lower = rows[0][0][1] == "lower"
        a = [r[0][0] for r in rows]
        b = [r[1][0] for r in rows]
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        claim = wins * 10 >= 9 * len(rows) and abs(bm - am) > (a3 - a1)
        print(f"{name:<38} {am:>12.5g} [{a1:>8.5g}, {a3:>8.5g}] "
              f"{bm:>12.5g} [{b1:>8.5g}, {b3:>8.5g}] {wins:>3}/{len(rows):<2}  "
              f"{'yes' if claim else 'no'}")


if __name__ == "__main__":
    main()
