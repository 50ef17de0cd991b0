#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each figure's spread.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload serve_topk --seeds 1-10 [--seconds N]

For every end-to-end figure prints the median of the runs and the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of that median, next to the bound BENCHMARK.json gives the figure.
Runs are sequential; each run's last line is appended to --log.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--log", default=os.path.join(ROOT, ".bench_build", "spread.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    os.makedirs(os.path.dirname(args.log), exist_ok=True)
    for seed in seeds(args.seeds):
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(last)
        with open(args.log, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, **last}) + "\n")
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.6g}" for k, v in last["metrics"].items()), flush=True)
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        share = (q[2] - q[0]) / med if med else float("nan")
        print(f"{m['name']:<16} median {med:<12.6g} spread {share:.4f} "
              f"bound {m['bound']} ({'ok' if share <= m['bound'] / 3 else 'WIDE'})")


if __name__ == "__main__":
    main()
