#!/bin/bash
# Round-close ritual (builder-side): the scaling GATE + the committed
# closing records, run like Bench/Verify before a round ends.
#
#   1. ensure the reduced x1/x10 heavy-family sweep exists (cold + warm;
#      run_scaling.sh reuses any per-scale log already present, so a
#      round that already swept the full surface pays nothing extra);
#   2. distill the flag report -> bench/SCALING_FLAGS.md, which the
#      round COMMITS — a residual super-linear query must appear there
#      by name or be fixed, never be silently absent;
#   3. re-record the composed corpus-build and streaming-admission
#      curves (sf0.1 + the x10 point each) so regressions in the
#      composed chain / admission throughput are caught by tooling;
#   4. run the full-surface sf0.1 sweep THREE times and commit the
#      per-query MEDIAN as the closing record (bench/closing_med3-*.json,
#      aliased by bench/last_sweep.json) — the committed number is a
#      clean-window median by construction, not whatever the last dirty
#      host window produced. floor_compare.py runs on the median record.
#
# Usage: tools/round_close.sh ["1 10"]          # multipliers
#   SPARK_GRAFT_LOGS        log dir (default target/scaling/logs)
#   SPARK_GRAFT_SETS        query sets (default: the heavy families)
#   SPARK_GRAFT_SKIP_MED3=1   skip step 4 (iterating on steps 1-3)
#   SPARK_GRAFT_SKIP_CURVES=1 skip step 3
set -euo pipefail
cd "$(dirname "${BASH_SOURCE[0]}")/.."

LOGS="${SPARK_GRAFT_LOGS:-target/scaling/logs}"
SETS="${SPARK_GRAFT_SETS:-dedup,similarity,text,scaleops,ir}"
FIX="${SPARK_GRAFT_FIX:-target/scaling/fixtures}"
IDX="${SPARK_GRAFT_IDX:-target/scaling/index}"
MULTS="${1:-1 10}"

SPARK_GRAFT_LOGS="$LOGS" SPARK_GRAFT_SETS="$SETS" \
  bash tools/run_scaling.sh "$MULTS"

{
  echo "# Scaling flag report"
  echo
  echo "Generated by tools/round_close.sh from \`$LOGS\` (sets: $SETS;"
  echo "scales: $MULTS). Flag rule: growth > 1.6x the data ratio AND"
  echo "t >= 1.5 s at the larger scale (below that, fixed per-query"
  echo "session/plan overhead dominates and ratios are noise)."
  for MODE in cold warm; do
    echo
    echo "## $MODE"
    echo
    python3 tools/scaling_report.py "$LOGS" "$MODE" flags
  done
} > bench/SCALING_FLAGS.md

echo
echo "=== bench/SCALING_FLAGS.md ==="
cat bench/SCALING_FLAGS.md

# --- step 3: the per-round composed-build + admission curves ---------
if [ "${SPARK_GRAFT_SKIP_CURVES:-0}" != 1 ]; then
  echo
  echo "=== corpus build curve (sf0.1 + x10) ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    tools/bench_direct.sh graft.CorpusBuild 2>&1 | tail -2
  if [ -d "$FIX/x10" ]; then
    SPARK_DRIVER_MEM=16g SPARK_GRAFT_SF_DIR="$PWD/$FIX/x10" \
      SPARK_GRAFT_INDEX_DIR="$PWD/$IDX/x10" \
      tools/bench_direct.sh graft.CorpusBuild 2>&1 | tail -2
  fi
  echo
  echo "=== admission curve (near; sf0.1 + x10) ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_MODE=near \
    SPARK_GRAFT_BATCH_SIZES=1000 \
    tools/bench_direct.sh graft.AdmissionBench 2>&1 | tail -2
  if [ -d "$FIX/x10" ]; then
    SPARK_DRIVER_MEM=16g SPARK_GRAFT_SF_DIR="$PWD/$FIX/x10" \
      SPARK_GRAFT_MODE=near SPARK_GRAFT_BATCH_SIZES=4000 \
      tools/bench_direct.sh graft.AdmissionBench 2>&1 | tail -2
  fi
  # x300 grid sample: the round-12 wins (scan discipline, k ∝ √n) live
  # at the x100/x300 points where no automatic re-record existed — one
  # near + one semantic row per close, decay-flagged into the committed
  # SCALING_FLAGS.md so a regression there can't wait for a judge.
  if [ -d "$FIX/x300" ]; then
    echo
    echo "=== admission grid sample (x300 near + semantic) ==="
    # Capture THIS run's persisted record path from the AdmissionBench
    # "[admission] record <path>" line — a newest-file glob silently fed
    # a STALE record to the flag tool whenever the (best-effort) persist
    # failed; now a missing record fails the close loudly.
    run_admission() { # mode -> echoes the fresh record path
      local mode="$1" log
      log=$(mktemp)
      SPARK_DRIVER_MEM=48g SPARK_GRAFT_SF_DIR="$PWD/$FIX/x300" \
        SPARK_GRAFT_MODE="$mode" SPARK_GRAFT_BATCH_SIZES=16000 \
        tools/bench_direct.sh graft.AdmissionBench >"$log" 2>&1
      tail -2 "$log" >&2
      local rec
      rec=$(grep -o '\[admission\] record .*' "$log" | tail -1 | cut -d' ' -f3)
      if [ -z "$rec" ] || [ ! -s "$rec" ]; then
        echo "round_close: no fresh admission record for mode=$mode" >&2
        exit 1
      fi
      echo "$rec"
    }
    REC_NEAR=$(run_admission near)
    REC_SEM=$(run_admission semantic)
    {
      echo
      echo "## admission grid sample (x300, this close)"
      echo
      echo '```'
      python3 tools/admission_flags.py "$REC_NEAR" "$REC_SEM"
      echo '```'
    } >> bench/SCALING_FLAGS.md
  fi
fi

# --- step 4: the med-3 full-surface closing record -------------------
if [ "${SPARK_GRAFT_SKIP_MED3:-0}" != 1 ]; then
  echo
  echo "=== closing med-3 full-surface sweep (sf0.1) ==="
  TS=$(date +%s)
  # Window calibration BRACKET (mechanized normalization): the fixed
  # 5-query battery runs before and after the med-3 sweep; the mean of
  # the two, over the committed CALIBRATION_BASELINE.json, is the
  # window factor written INTO the closing record — cross-round ratios
  # stop resting on prose-stated anchor-query arithmetic.
  run_calibrate() { # -> echoes the battery's median-sum seconds
    local log; log=$(mktemp)
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      tools/bench_direct.sh graft.Calibrate >"$log" 2>/dev/null
    grep '"metric":"calibration"' "$log" | head -1 \
      | grep -o '"value":[0-9.]*' | cut -d: -f2
  }
  CAL_PRE=$(run_calibrate)
  echo "calibration (pre-battery): ${CAL_PRE}s"
  RUNS=()
  for i in 1 2 3; do
    echo "--- repeat $i/3 ---"
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      tools/bench_direct.sh graft.Bench \
      > "target/med3_run$i.out" 2> "target/med3_run$i.err" || {
        echo "repeat $i FAILED; tail of stderr:"; tail -5 "target/med3_run$i.err"; exit 1; }
    grep '"queries":' "target/med3_run$i.out" | head -1 > "target/med3_run$i.json"
    python3 - "target/med3_run$i.json" <<'EOF'
import json, sys
d = json.loads(open(sys.argv[1]).read())
print(f"  total {d['value']:.1f} s" +
      (f", FAILED {d['failed']}" if d["failed"] != [] else ""))
EOF
    RUNS+=("target/med3_run$i.json")
  done
  CAL_POST=$(run_calibrate)
  echo "calibration (post-battery): ${CAL_POST}s"
  CLOSE="bench/closing_med3-$TS.json"
  python3 tools/med3_merge.py "$CLOSE" "${RUNS[@]}"
  python3 - "$CLOSE" "$CAL_PRE" "$CAL_POST" <<'EOF'
import json, sys
rec = json.loads(open(sys.argv[1]).read())
pre, post = float(sys.argv[2]), float(sys.argv[3])
cal = (pre + post) / 2.0
rec["calibration_sec"] = {"pre": pre, "post": post}
try:
    base = json.load(open("bench/CALIBRATION_BASELINE.json"))["value"]
    rec["window_factor"] = round(cal / base, 3)
    print(f"window factor: {rec['window_factor']} "
          f"(battery {cal:.1f}s vs baseline {base:.1f}s)")
except FileNotFoundError:
    print("no CALIBRATION_BASELINE.json — window_factor omitted")
open(sys.argv[1], "w").write(json.dumps(rec) + "\n")
EOF
  cp "$CLOSE" bench/last_sweep.json
  echo
  echo "=== floor_compare on the median closing record ==="
  python3 tools/floor_compare.py "$CLOSE"
fi
