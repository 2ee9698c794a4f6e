#!/bin/bash
# Fast runner: java against this checkout's compiled classes + the Spark jars,
# skipping sbt.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
CLASS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Default heap, the same rule as build.sbt: half of MemTotal clamped to
# 2-16 GiB (2g where /proc/meminfo is unreadable); SPARK_DRIVER_MEM overrides.
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 16 ? 16 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS \
  -Xmx"$HEAP" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$CLASS" "$@"
