#!/bin/bash
# Run a graft main on the compiled classes directly (no sbt lock):
# tools/run_main.sh <MainClass> [args...]   env: SPARK_DRIVER_MEM (default 8g)
set -e
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# src/main/resources carries the graft-ocf DataSourceRegister service
# file, which `sbt compile` alone does not copy into the classes dir
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -cp "$CP" "$@"
