#!/usr/bin/env python3
"""Run one workload over several seeds and report, for each metric, the
median and the quartile spread as a share of the median: the figures a
bound is judged against.

    python3 perfbench/spread.py --workload graph --seeds 10 [--first 1]

A metric is marked `ok` when its spread is below a third of its bound.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values = {}
    for seed in range(args.first, args.first + args.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run failed with {r.returncode}")
        result = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
            + f" failed={result['failed']}/{result['attempted']}",
            flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        b = bounds.get(k)
        line = f"{k}: median {stats.median(vs):.4g}"
        if len(vs) >= 2 and stats.median(vs):
            s = stats.spread(vs)
            line += f" spread {s:.3f}"
            if b:
                line += f" (bound {b}, {'ok' if s < b / 3 else 'WIDE'})"
        print(line)


if __name__ == "__main__":
    main()
