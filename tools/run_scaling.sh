#!/bin/bash
# Measured-scaling sweep (builder-side harness).
#
# Generates deterministic 1x/10x/30x corpora from the sf0.1 fixture via
# graft.ScaleGen (structure-preserving replication: within-replica
# duplicate/cluster structure identical, cross-replica overlap zero),
# then runs the heavy-family bench at each scale twice:
#   cold — fresh per-scale IndexStore, so index/model TRAINING cost is
#          measured at that scale;
#   warm — same store, isolating steady-state query cost.
# Logs land in target/scaling/logs/<label>-{cold,warm}.json for
# tools/scaling_report.py, which emits the SCALING.md table and flags
# super-linear growth.
#
# All scale points run under identical session config (local[32], AQE
# on, 48g driver) so the only variable is data volume — except the
# shuffle width, which graft.operators.Autoscale now derives from each
# fixture's bytes (floors at 32 on x1/x10; widens where the round-11
# x300 spill telemetry showed 32 partitions overflowing the gram-join
# buffer). Pin SPARK_GRAFT_SHUFFLE_PARTITIONS to reproduce the old
# fixed-width behavior.
set -euo pipefail
cd "$(dirname "${BASH_SOURCE[0]}")/.."

FIX="${SPARK_GRAFT_FIX:-target/scaling/fixtures}"
LOGS="${SPARK_GRAFT_LOGS:-target/scaling/logs}"
IDX="${SPARK_GRAFT_IDX:-target/scaling/index}"
SETS="${SPARK_GRAFT_SETS:-dedup,similarity,text,scaleops,ir}"
SRC=/root/testdata/sf0.1
MULTS="${1:-1 10 30}"

mkdir -p "$FIX" "$LOGS" "$IDX"

for M in $MULTS; do
  if [ ! -d "$FIX/x$M" ]; then
    echo "=== generating x$M fixture ==="
    SPARK_DRIVER_MEM=48g sbt -batch \
      "runMain graft.ScaleGen $SRC $FIX/x$M $M" 2>&1 | tail -2
  fi
done

for M in $MULTS; do
  for MODE in cold warm; do
    if [ -s "$LOGS/x$M-$MODE.json" ]; then
      echo "=== bench x$M $MODE (cached) ==="
      continue
    fi
    echo "=== bench x$M $MODE ==="
    if [ "$MODE" = cold ]; then rm -rf "$IDX/x$M"; fi
    SPARK_DRIVER_MEM=48g \
    SPARK_GRAFT_SF_DIR="$PWD/$FIX/x$M" \
    SPARK_GRAFT_SETS="$SETS" \
    SPARK_GRAFT_INDEX_DIR="$PWD/$IDX/x$M" \
      sbt -batch "runMain graft.Bench" 2>&1 |
      grep '"queries":' | sed 's/^\[info\] *//' | head -1 > "$LOGS/x$M-$MODE.json"
    python3 - "$LOGS/x$M-$MODE.json" <<'EOF'
import json, sys
d = json.loads(open(sys.argv[1]).read())
print(f"  total {d['value']:.1f} s, sets " +
      ", ".join(f"{k}={v:.1f}" for k, v in d["sets"].items() if v > 0) +
      (f", FAILED {d['failed']}" if d["failed"] != [] else ""))
EOF
  done
done

echo "=== report (cold) ==="
python3 tools/scaling_report.py "$LOGS" cold
echo "=== report (warm) ==="
python3 tools/scaling_report.py "$LOGS" warm
