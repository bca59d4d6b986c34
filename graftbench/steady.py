#!/usr/bin/env python3
"""Steadiness check: run one workload K times, each with its own seed,
and print every metric's median, quartiles, spread and max/min ratio.

    python3 graftbench/steady.py --workload batch --runs 10 [--first-seed 1] [--trace 0]

The spread is the distance between the first and third quartile, as
`statistics.quantiles(values, n=4)` gives them, over the median. A
metric is steady enough for its bound in BENCHMARK.json when the spread
stays below a third of the bound.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    values, walls = {}, []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", args.trace],
            cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.monotonic() - t0)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run failed with exit code {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: {result['failed']}/{result['attempted']} ops failed")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s  " +
              "  ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    print(f"\n{args.workload}: {args.runs} runs, {statistics.median(walls):.1f} s median run")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'max/min':>8}  bound")
    for name, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        ratio = max(xs) / min(xs) if min(xs) > 0 else float("nan")
        bound = bounds.get(name)
        verdict = "" if bound is None else (
            f"{bound}  {'ok' if spread < bound / 3 else 'TOO WIDE'}")
        print(f"{name:32} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} {ratio:8.4f}  {verdict}")


if __name__ == "__main__":
    main()
