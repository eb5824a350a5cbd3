#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S]

Runs the benchmark once per seed (sequentially, from the repository root)
and prints, per metric, the median and the distance between the first and
third quartiles (statistics.quantiles(values, n=4)) as a share of the
median, next to the metric's bound from BENCHMARK.json. Each run's result
line is appended to perfbench/results/spread-<workload>.jsonl.
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
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    log = os.path.join(HERE, "results", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for s in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(s), "--seconds", f"{seconds:g}",
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}", file=sys.stderr)
            continue
        line = p.stdout.strip().splitlines()[-1]
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": s, "result": json.loads(line)}) + "\n")
        res = json.loads(line)
        print(f"seed {s}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
            + f" failed={res['failed']}/{res['attempted']}", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:<20} n={len(vs)} median={med:.4g} "
              f"iqr/median={(q3 - q1) / med:.4f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
