#!/bin/bash
# Round-16 (r15 verdict #3, carried from r14 #4): the ten-query
# narrow-first/SHJ toy-scale A/B. The ten queries whose sf0.1 walls rose
# 2.7-3.6x r13->r14 run against BOTH code generations on the same host,
# same hour, ALTERNATING JVMs (A/B/A/B/A/B), 3 reps per run, so host
# drift cannot masquerade as a plan tax:
#   A = r13 verdict code (f9c2cda: pre shuffle_hash hints, pre
#       narrow-first candidate ordering), compiled into /tmp/graft_r13
#   B = current HEAD
# Codec is pinned lz4 on BOTH sides (r13 hardcoded lz4; zstd landed with
# the r14 change under test, and the question is the JOIN PLAN tax, not
# the codec): SPARK_GRAFT_IO_CODEC=lz4 on B, no-op env on A.
# Per r15 ADVICE: pipefail + per-run failure markers.
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p target/scale_r16
QS="q42_,q44_,q48_,q49_,q69_,q76_,q93_,q118_,q120_,q135_"
OLD_CLS=/tmp/graft_r13/target/scala-2.13/classes
[ -d "$OLD_CLS/graft" ] || { echo "old classes missing: $OLD_CLS"; exit 1; }

run() { # name clsdir extra-env...
  local name="$1" cls="$2"
  echo "[shjab] $name start $(date +%T)"
  if CLS="$cls" SPARK_GRAFT_BENCH_REPS=3 SPARK_GRAFT_IO_CODEC=lz4 \
     SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
     scripts/run_main.sh graft.Bench "$QS" \
       2> "target/scale_r16/${name}.err" | grep '"metric"' \
       > "target/scale_r16/${name}.json" \
     && [ -s "target/scale_r16/${name}.json" ]; then
    echo "[shjab] $name OK"
  else
    echo "[shjab] $name FAILED (see target/scale_r16/${name}.err)"
    echo FAILED > "target/scale_r16/${name}.failed"
  fi
}

for round in 1 2 3; do
  run "shjab_old_r$round" "$OLD_CLS"
  run "shjab_new_r$round" target/scala-2.13/classes
done
echo R16_SHJAB_DONE
