#!/bin/bash
# Direct-JVM runner for graft main classes (dev tool; the driver still
# uses `sbt "runMain ..."`). Usage: tools/run.sh graft.Profile
# <jobs|stream|time|plan> <query…>
# Mirrors build.sbt's forked-run JVM flags.
cd "$(dirname "$0")/.." || exit 1
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
