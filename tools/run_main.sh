#!/usr/bin/env bash
# Run a graft main class in a JVM configured like build.sbt's forked
# `sbt runMain` JVM: module opens, code cache and heap. Every Spark and
# SQL conf lives in graft.GraftSession, so none is passed here.
# Usage: tools/run_main.sh graft.Bench [args...]
# Used for kill-resilience tests (a bare java process is killable without
# orphaning, unlike sbt's fork) and fast local timing loops.
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -XX:ReservedCodeCacheSize=512m \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
