#!/bin/bash
# Run a graft main class directly (no sbt lock): tools/run_main.sh graft.Bench [args...]
# Env passthrough: SPARK_GRAFT_* vars, SPARK_DRIVER_MEM (default 16g),
# GRAFT_JAVA_PROPS for extra -D flags.
set -euo pipefail
CLS="$1"; shift
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${GRAFT_JAVA_PROPS:-} -cp "$CP" "$CLS" "$@"
