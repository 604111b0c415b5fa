#!/bin/bash
# sbt-free graft.Bench invocation: the same JVM flags build.sbt gives a
# forked `run`, against a CLASS SNAPSHOT so an sbt compile mid-harvest
# cannot swap class files under a running measurement.
#
#   tools/snapshot_classes.sh   # refresh /tmp/graft-bench/classes
#   tools/run_bench.sh [query names...]
#
# Falls back to target/scala-2.13/classes when no snapshot exists.
cd "$(dirname "$0")/.." || exit 1
CLASSES=${GRAFT_BENCH_CLASSES:-/tmp/graft-bench/classes}
[ -d "$CLASSES" ] || CLASSES=target/scala-2.13/classes
# default heap: half of MemTotal, clamped to 2-8 g
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null)}
exec java \
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
  -Xmx"$HEAP" \
  -cp "$CLASSES:/opt/spark/jars/*" "${GRAFT_BENCH_MAIN:-graft.Bench}" "$@"
