#!/bin/bash
# Round-16 sf100 clean re-cut under zstd (r15 verdict #2, carried from
# r14 #3), second attempt. The first attempt measured WHY the zstd run
# still hit the disk ceiling: q93's monolithic probe DAG held ~53 GB of
# concurrent zstd shuffle at peak (sampler record), and ~12 GB of
# orphaned blockmgr scratch from earlier unrelated JVMs ate the
# remaining headroom. This attempt (a) runs on the round-16 candidate-
# cut operator (minHashNearDupAgainst eagerly cuts the narrow candidate
# set so the band-join/distinct shuffle files release before the verify
# joins), (b) gives q93 a DEDICATED leg with maximum free disk, and
# (c) keeps the du sampler so the footprint drop is a recorded number.
# One JVM per leg, 3 reps, no env knobs beyond rep count / stage skip.
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p target/scale_r15
SAMPLER_LOG=target/scale_r15/peak_scratch_r2.log
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

run() { # name sfdir queries
  local name="$1" sfdir="$2" qs="$3"
  echo "[r16sf100] $name start $(date +%T) free=$(df --output=avail -BG / | tail -1)"
  echo "---- $name $(date +%s)" >> "$SAMPLER_LOG"
  if SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_SKIP_STAGES=1 \
     SPARK_GRAFT_SF_DIR="$sfdir" scripts/run_main.sh graft.Bench "$qs" \
       2> "target/scale_r15/${name}.err" | grep '"metric"' \
       > "target/scale_r15/${name}.json" \
     && [ -s "target/scale_r15/${name}.json" ]; then
    echo "[r16sf100] $name OK: $(cat target/scale_r15/${name}.json)"
  else
    echo "[r16sf100] $name FAILED (see target/scale_r15/${name}.err)"
    echo FAILED > "target/scale_r15/${name}.failed"
  fi
}

run bench_sf100_core target/sfgen/sf100 q60_,q61,q62
# q93 dedicated, max headroom: drop stale per-run indexes first (the
# bench rebuilds its own, untimed)
rm -rf target/bench_idx
run bench_sf100_q93re target/sfgen/sf100 q93
run bench_sf100_q97  target/sfgen/sf100 q97
run q93solo_sf10     target/sfgen/sf10  q93
run q97solo_sf10     target/sfgen/sf10  q97
echo "[r16sf100] peak scratch log: $(tail -2 "$SAMPLER_LOG" 2>/dev/null | tr '\n' ' ')"
echo R16_SF100_DONE
