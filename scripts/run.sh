#!/bin/bash
# Run a graft main class directly against the compiled classes + Spark jars
# (avoids sbt JVM startup per invocation). Usage: scripts/run.sh graft.Verify args...
set -e
# classes of the checkout this script lives in; no cd, callers pass relative paths
CLASSES="$(dirname "$0")/../target/scala-2.13/classes"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADDOPENS \
  -Xmx${SPARK_DRIVER_MEM:-16g} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$@"
