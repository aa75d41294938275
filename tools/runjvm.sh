#!/bin/bash
# Direct-JVM runner for graft mains — lets a second main run while an
# sbt process holds the project lock. Usage: tools/runjvm.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g) + the main's own env knobs.
set -e
# classes of the checkout this script lives in (works from any clone)
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# Spark jars: $SPARK_HOME/jars, else build.sbt's unmanagedBase
JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -n "$JARS" ] || JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CP="$ROOT/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$CP" "$@"
