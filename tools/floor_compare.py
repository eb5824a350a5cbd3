#!/usr/bin/env python3
"""Compare a Bench sweep's per-query seconds against the committed
BASELINE_QUERIES.json floors, attributing inflation to first-payer cost
where the sweep's train/build maps explain it. Builder-side tooling.

Usage: floor_compare.py <sweep.json> [threshold=2.0] [min_sec=1.5]
Rows are flagged when steady-state time (total - build - train, where
build/train are this sweep's first-payer shares) exceeds threshold x
the floor AND the larger time is at least min_sec.
"""
import json, os, sys

sweep = json.loads(open(sys.argv[1]).read())
thr = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
min_sec = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
base = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "..", "BASELINE_QUERIES.json")))["queries"]

# Window normalization: a record may carry `window_factor`, the
# graft.Calibrate battery of its window over a battery recorded on the
# same host; steady-state times are divided by it before the floor
# compare, so a 1.5x-slow host window stops reading as 1.5x inflation.
wf = float(sweep.get("window_factor", 1.0)) or 1.0
if wf != 1.0:
    print(f"window factor {wf:.2f} (steady times normalized by it)")

qs = sweep["queries"]
train = sweep.get("train", {})
build = sweep.get("build", {})
rows, flags = [], []
tot, ftot, fp_covered = 0.0, 0.0, 0.0
for k, v in qs.items():
    if v is None or v < 0:
        continue
    f = base.get(k)
    fp = max(train.get(k, 0.0), build.get(k, 0.0))  # build ⊇ train
    steady = max(v - fp, 0.0) / wf
    if f and f > 0:
        tot += v
        ftot += f
        fp_covered += fp
        r = steady / f
        if r > thr and steady >= min_sec:
            flags.append((r, k, v, fp, steady, f))
if ftot > 0:
    print(f"sweep total {sweep['value']:.1f}s; floor-covered total {tot:.1f}s "
          f"vs floor sum {ftot:.1f}s = {tot/ftot:.2f}x")
else:
    print(f"sweep total {sweep['value']:.1f}s; no sweep query has a committed floor")
bt = sweep.get("build_total", 0.0)
tt = sweep.get("train_total", 0.0)
if ftot > 0:
    # first-payer share summed over floor-covered rows only, so the steady
    # multiple compares like with like
    print(f"first-payer: build_total {bt:.1f}s, train_total {tt:.1f}s "
          f"(steady total ~{tot - fp_covered:.1f}s = {(tot - fp_covered)/ftot:.2f}x floor)")
else:
    print(f"first-payer: build_total {bt:.1f}s, train_total {tt:.1f}s")
if flags:
    print(f"\n{len(flags)} rows with steady-state > {thr}x floor "
          f"(steady = total - first-payer share):")
    for r, k, v, fp, steady, f in sorted(flags, reverse=True):
        print(f"  {k}: total {v:.2f}s (first-payer {fp:.2f}s) "
              f"steady {steady:.2f}s vs floor {f:.2f}s = {r:.1f}x")
else:
    print(f"\nno rows with steady-state > {thr}x floor at >= {min_sec}s")
