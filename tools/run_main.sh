#!/usr/bin/env bash
# Run a graft main outside sbt (no target-lock contention): compiled
# classes + the image's Spark jars, with the same JDK17 --add-opens set
# build.sbt injects for forked runs. Usage:
#   tools/run_main.sh graft.Verify <args...>
# Env: SPARK_DRIVER_MEM (default 8g) sizes the heap like build.sbt.
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES=target/scala-2.13/classes
[ -d "$CLASSES" ] || { echo "run 'sbt compile' first" >&2; exit 1; }
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
