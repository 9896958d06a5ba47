#!/bin/bash
# Run a compiled graft main class directly against the image's Spark
# jars — the sbt `runMain` equivalent without sbt's ~20 s startup, for
# builder iteration (the driver still uses sbt). Usage:
#   tools/run.sh graft.apps.Probe time q235 <sfDir> 3
# Honors SPARK_DRIVER_MEM (default 8g) like build.sbt.
set -e
CLASSES=/root/repo/target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
