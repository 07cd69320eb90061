#!/usr/bin/env python3
"""Run one workload N times, each with another seed, and print every
metric's median, quartiles and quartile spread as a share of the median.

    python3 wlbench/steady.py --workload olap_read --runs 10 [--first-seed 1] [--trace 0]

The spread is (Q3 - Q1) / median with quartiles from
statistics.quantiles(values, n=4). Raw results go to --out (JSON lines) when
given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failed, walls = {}, 0, []
    for k in range(args.runs):
        seed = args.first_seed + k
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", flush=True)
            failed += 1
            continue
        wall = time.time() - t0
        walls.append(wall)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: wall={wall:.1f}s correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()), flush=True)
    print(f"{'metric':44s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for name, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:44s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
              f"{'' if b is None else b:>6}")
    if walls:
        print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
