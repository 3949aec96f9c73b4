#!/bin/bash
# Round-16 lead measurement (r15 verdict #1): settle step-vs-slope on
# x_jaccard_prefix_full's 46x-wall-at-11.8x-workload sf1->sf10 ratio.
#
# The literal sf10->sf100 pair CANNOT run on this sandbox — the sf10 leg
# alone holds ~1B pre-distinct candidate rows and ~24 min/rep; at the
# counted ~12x workload growth an sf100 rep is ~4.6 h and its concurrent
# candidate-exchange shuffle files project to >12x the sf10 peak scratch
# (measured by the du sampler below), far past the ~50 GB free disk.
# The question the verdict actually asks — does the wall grow at
# workload rate ON ONE MEMORY TIER, or is there an algorithmic slope? —
# is answered by a WEAK-SCALING pair instead: hold heap PROPORTIONAL to
# data (sf1 @ 8g vs sf10 @ 80g — exactly 10x, the way cluster memory
# actually grows with data), so both legs sit on the same
# memory-pressure tier, and compare the wall ratio against the counted
# candidate ratio. The new ScaleRamp spill_disk_mb field RECORDS the
# tier on both legs (r15's pair inferred it from stray log lines).
#
# 3 reps, one JVM per (leg), dedicated idle machine, no other env knobs.
# Per r15 ADVICE: pipefail + per-run failure markers; a crashed leg is
# recorded and later legs still run.
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p target/scale_r16
SAMPLER_LOG=target/scale_r16/jac_peak_scratch.log
rm -f "$SAMPLER_LOG"
(
  peak=0
  while :; do
    cur=$(du -sb /tmp/blockmgr-* /tmp/spark-* 2>/dev/null | awk '{s+=$1} END {printf "%.0f", s}')
    cur=${cur:-0}
    if [ "$cur" -gt "$peak" ]; then peak=$cur; echo "peak_bytes=$peak $(date +%s)" >> "$SAMPLER_LOG"; fi
    sleep 5
  done
) &
SAMPLER_PID=$!
trap 'kill $SAMPLER_PID 2>/dev/null' EXIT

leg() { # name sfdir heap
  local name="$1" sfdir="$2" heap="$3"
  echo "[jacpair] $name (heap $heap) start $(date +%T)"
  echo "---- $name $(date +%s)" >> "$SAMPLER_LOG"
  if SPARK_DRIVER_MEM="$heap" SPARK_GRAFT_SF_DIR="$sfdir" \
     scripts/run_main.sh graft.ScaleRamp x_jaccard_prefix_full \
       2> "target/scale_r16/${name}.err" | grep '"metric"' \
       > "target/scale_r16/${name}.json" \
     && [ -s "target/scale_r16/${name}.json" ]; then
    echo "[jacpair] $name OK: $(cat target/scale_r16/${name}.json)"
  else
    echo "[jacpair] $name FAILED (see target/scale_r16/${name}.err)"
    echo FAILED > "target/scale_r16/${name}.failed"
  fi
}

leg jacfix_sf1_8g   target/sfgen/sf1  8g
leg jacfix_sf10_80g target/sfgen/sf10 80g

for sf in sf1 sf10; do
  echo "[jacpair] candcount $sf (production posture: WideShuffle scope + persisted tokens)"
  if scripts/run_main.sh graft.CandCount "target/sfgen/$sf" jaccard \
       2> "target/scale_r16/jaccand_${sf}.err" | grep CANDIDATES \
       > "target/scale_r16/jaccand_${sf}.txt" \
     && [ -s "target/scale_r16/jaccand_${sf}.txt" ]; then
    echo "[jacpair] candcount $sf OK: $(cat target/scale_r16/jaccand_${sf}.txt)"
  else
    echo "[jacpair] candcount $sf FAILED"
    echo FAILED > "target/scale_r16/jaccand_${sf}.failed"
  fi
done
echo R16_JACPAIR_DONE
