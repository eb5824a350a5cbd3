#!/usr/bin/env python3
"""Merge N Bench sweep records into one per-query MEDIAN record
(builder-side tooling, round-12 task 5).

Three rounds running, the session's LAST sweep landed in a dirty host
window and flagged rows that sibling sweeps refuted minutes later
(r10: st4_replay_ledger 4.5x; r11: ann_mmr_rerank 5.2x, corpus_curation
5.0x) — every flag adjudicated as wander by a med-3 re-measure. This
tool makes the committed closing record the median in the first place:
per-query median seconds across repeats, per-query median train/build/
shuffle/spill, per-set median sums. `value` is the SUM of per-query
medians (the steady-state total a clean window would have produced);
`sets` are medians of the per-set sums, so a set and the sum of its
queries can differ by sub-second wander — the per-query map is the
ground truth.

Usage: med3_merge.py <out.json> <sweep1.json> <sweep2.json> [...]
"""
import json
import sys


def med(vals):
    s = sorted(vals)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def main():
    out, files = sys.argv[1], sys.argv[2:]
    assert len(files) >= 2, "need at least 2 sweeps to merge"
    sweeps = [json.loads(open(f).read()) for f in files]

    names = []
    for s in sweeps:
        for k in s["queries"]:
            if k not in names:
                names.append(k)
    failed = sorted({k for s in sweeps for k in s.get("failed", [])})

    queries = {}
    for k in names:
        vals = [s["queries"].get(k) for s in sweeps]
        vals = [v for v in vals if v is not None and v >= 0]
        if vals:
            queries[k] = round(med(vals), 3)

    def medmap(key, floor=0.0005):
        m = {}
        for k in names:
            v = med([s.get(key, {}).get(k, 0.0) for s in sweeps])
            if v > floor:
                m[k] = round(v, 3)
        return m

    train = medmap("train")
    build = medmap("build")
    shuffle = medmap("shuffle_mb", floor=1.0)
    spill = {}
    for k in names:
        vals = [s.get("spill_mb", {}).get(k, [0.0, 0.0]) for s in sweeps]
        d = med([v[0] for v in vals])
        mm = med([v[1] for v in vals])
        if d > 0.01 or mm > 0.01:
            spill[k] = [round(d, 1), round(mm, 1)]
    sets = {sn: round(med([s["sets"].get(sn, 0.0) for s in sweeps]), 3)
            for sn in sweeps[0].get("sets", {})}
    # per-query Spark job/stage/task counts and compiled classes (median
    # over the sweeps that carry them; older records have none)
    counts = {}
    for key in ("jobs", "stages", "tasks", "compiles"):
        counts[key] = {}
        for k in names:
            vals = [s[key][k] for s in sweeps if k in s.get(key, {})]
            if vals:
                counts[key][k] = med(vals)

    rec = {
        "metric": "total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "train_total": round(sum(train.values()), 3),
        "build_total": round(sum(build.values()), 3),
        "queries": queries,
        "train": train,
        "build": build,
        "shuffle_mb": shuffle,
        "spill_mb": spill,
        **counts,
        "shuffle_total_mb": round(sum(shuffle.values()), 1),
        "spill_disk_total_mb": round(sum(v[0] for v in spill.values()), 1),
        "sets": sets,
        "failed": failed,
        "sf": sweeps[0].get("sf"),
        "median_of": files,
        "repeats": len(files),
    }
    with open(out, "w") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"wrote {out}: median total {rec['value']}s over "
          f"{len(queries)} queries ({len(files)} repeats), failed {failed}")


if __name__ == "__main__":
    main()
