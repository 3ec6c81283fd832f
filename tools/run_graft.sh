#!/bin/bash
# Run a graft main class directly against compiled classes + spark jars
# (much faster iteration than sbt runMain). Usage: run_graft.sh <MainClass> [args...]
# The heap is half of physical memory, clamped to 2-8 GB (the Tier-1 test
# sizing); a -Xmx in GRAFT_JAVA_OPTS comes later on the command line and wins.
MAIN=$1; shift
HEAP_GB=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g)}' /proc/meminfo 2>/dev/null || echo 2)
ROOT=$(cd "$(dirname "$0")/.." && pwd)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
mkdir -p /dev/shm/spark-local
exec java $ADD_OPENS -Xmx${HEAP_GB:-2}g -XX:ReservedCodeCacheSize=2g -Dspark.local.dir=/dev/shm/spark-local -Dspark.sql.warehouse.dir=/tmp/graft-warehouse -Dderby.system.home=/tmp/graft-derby $GRAFT_JAVA_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
