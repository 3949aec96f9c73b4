#!/bin/bash
# Chained scale-fixture generation: sf0.1 -> sf1 -> sf10 -> sf100, each a
# 10x GenSf replication of the previous output. Runs in a plain JVM
# (scripts/run_main.sh) so sbt keeps the project lock for tests.
# Usage: [CLS=...] [SPARK_DRIVER_MEM=...] scripts/gen_chain.sh [last]
#   (last in {sf1,sf10,sf100}; default sf100)
set -e
cd "$(dirname "$0")/.."
LAST="${1:-sf100}"
run() { scripts/run_main.sh graft.GenSf "$@"; }
echo "[gen_chain] sf0.1 -> sf1"
run /root/testdata/sf0.1 target/sfgen/sf1 10
[ "$LAST" = "sf1" ] && exit 0
echo "[gen_chain] sf1 -> sf10"
run target/sfgen/sf1 target/sfgen/sf10 10
[ "$LAST" = "sf10" ] && exit 0
echo "[gen_chain] sf10 -> sf100"
run target/sfgen/sf10 target/sfgen/sf100 10
echo "[gen_chain] done"
