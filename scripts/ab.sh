#!/bin/bash
# Alternating-JVM A/B of two class directories: same host, same hour,
# A/B/A/B/A/B, 3 bench reps per JVM, medians compared offline by
# ab_report.py. Removes host drift from single-change adjudication.
# A defaults to a snapshot of the parent's classes, B to the current build.
# Usage: [CLS_A=<dirA>] [CLS_B=<dirB>] scripts/ab.sh <name> <query-filter> [sfDir]
#   query-filter: comma-separated full names or prefixes up to `_`
#   (`q1,q10` runs q1_* and q10_*, not q100-q199).
#   sfDir defaults to $SPARK_GRAFT_SF_DIR; captures go to target/ab/.
set -uo pipefail
cd "$(dirname "$0")/.."
NAME="$1"; QS="$2"; SF="${3:-${SPARK_GRAFT_SF_DIR:?pass sfDir or set SPARK_GRAFT_SF_DIR}}"
CLS_A="${CLS_A:-/tmp/graft_A}"; CLS_B="${CLS_B:-target/scala-2.13/classes}"
mkdir -p target/ab
for round in 1 2 3; do
  for side in A B; do
    cls="$CLS_A"
    [ "$side" = B ] && cls="$CLS_B"
    out="target/ab/${NAME}_${side}${round}"
    if CLS="$cls" SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_SF_DIR="$SF" \
       scripts/run_main.sh graft.Bench "$QS" 2> "$out.err" | grep '"metric"' > "$out.json" \
       && [ -s "$out.json" ]; then
      echo "[ab] ${NAME} ${side}${round} OK"
    else
      echo "[ab] ${NAME} ${side}${round} FAILED"
    fi
  done
done
echo AB_DONE_${NAME}
