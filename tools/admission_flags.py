#!/usr/bin/env python3
"""Flag streaming-admission throughput decay in AdmissionBench records.

Usage: admission_flags.py <admission-*.json ...>

For every run in every record: compare first-half vs last-half docs/s
(both computed by AdmissionBench from actual per-batch rows). A last
half more than DECAY_PCT slower than the first half is the O(1)-per-
batch evidence claim failing — print it as a FLAG line. Report-only
(exit 0 either way).
"""
import json
import sys

DECAY_PCT = 10.0

def main(paths):
    flags = 0
    for path in paths:
        try:
            rec = json.load(open(path))
        except (OSError, json.JSONDecodeError) as e:
            print(f"FLAG {path}: unreadable ({e})")
            flags += 1
            continue
        for run in rec.get("runs", []):
            mode = run.get("mode", "?")
            bs = run.get("batch_size", "?")
            fh = run.get("first_half_rows_per_sec", 0.0)
            lh = run.get("last_half_rows_per_sec", 0.0)
            stable = run.get("redelivery_stable", True)
            decay = 100.0 * (1.0 - lh / fh) if fh > 0 else 0.0
            line = (f"{mode} bs={bs}: {run.get('rows_per_sec', 0):.0f} "
                    f"docs/s (first {fh:.0f}, last {lh:.0f}, "
                    f"decay {decay:+.1f}%) index {run.get('index_rows', 0)} "
                    f"rows / {run.get('index_bytes', 0) >> 20} MB")
            if decay > DECAY_PCT:
                print(f"FLAG {line}")
                flags += 1
            else:
                print(f"  ok {line}")
            if not stable:
                print(f"FLAG {mode} bs={bs}: redelivery UNSTABLE")
                flags += 1
    if flags == 0:
        print("no admission flags")

if __name__ == "__main__":
    main(sys.argv[1:])
