#!/bin/bash
# Runs one of the library's mains in a plain JVM, outside sbt, from a
# snapshot of the compiled classes: the JVM loads classes lazily, so a
# recompile during a long bench or ramp cannot swap classes under it.
# Usage: [CLS=<classes dir>] [SPARK_DRIVER_MEM=8g] [GRAFT_JAVA_EXTRA=<jvm flags>] \
#        scripts/run_main.sh <MainClass> [args]
#   e.g. SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_BENCH_REPS=3 scripts/run_main.sh graft.Bench q93
#   CLS defaults to this checkout's sbt output (target/scala-2.13/classes);
#   it is copied to a temporary directory, removed when the JVM exits.
MAIN="${1:?usage: scripts/run_main.sh <MainClass> [args]}"; shift
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLS="${CLS:-$ROOT/target/scala-2.13/classes}"
# the Spark jars the build compiles against (build.sbt's unmanagedBase)
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
SNAP="$(mktemp -d "${TMPDIR:-/tmp}/graft_classes.XXXXXX")"
trap 'rm -rf "$SNAP"' EXIT
cp -R "$CLS/." "$SNAP/" || exit 1
java $GRAFT_JAVA_EXTRA \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-64g}" \
  -cp "$SNAP:$JARS/*" "$MAIN" "$@" &
JVM=$!
# a signal to this script ends the JVM, as when the script exec'd it
trap 'kill -TERM "$JVM" 2>/dev/null' INT TERM HUP
# wait returns early on a trapped signal; wait again until the JVM is gone
while :; do
  wait "$JVM"; STATUS=$?
  kill -0 "$JVM" 2>/dev/null || break
done
exit "$STATUS"
