#!/bin/bash
# Run a graft main class directly on the compiled classes, bypassing sbt's
# project lock — lets a long probe run in parallel with sbt compile/test.
# Mirrors build.sbt's forked-JVM setup (JDK17 add-opens, UTC, no UI, -Xmx).
# Usage: tools/run_main.sh <mainClass> [args...]   (env knobs pass through)
set -euo pipefail
# the classes of the checkout this script lives in, so a second copy of the
# tree (e.g. a parent commit next to a change) runs its own build
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "compile first: sbt compile" >&2; exit 1; }
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_JVM_OPTS: extra -D flags (SparkSession reads spark.* system
# properties, so any SQL conf can be set per run without a code knob —
# e.g. -Dspark.sql.objectHashAggregate.sortBased.fallbackThreshold=N)
exec java $ADD_OPENS ${SPARK_GRAFT_JVM_OPTS:-} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
