#!/bin/bash
# Run graft.Bench in a bare JVM (no sbt) so the harness's own launch
# CPU doesn't pollute loadavg_start or compete with the measured runs.
# Mirrors build.sbt's forked javaOptions.
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench "$@"
