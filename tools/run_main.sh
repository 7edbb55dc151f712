#!/bin/bash
# Run a graft main via bare java (dodges the sbt lock). Usage:
#   tools/run_main.sh graft.Bench [args...]
# Env passthrough: SPARK_GRAFT_* work as with sbt runMain. Runs the classes
# `sbt compile` left in this clone, on the jars of the Spark at $SPARK_HOME.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(ls "${SPARK_HOME:?set SPARK_HOME}"/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} ${SPARK_GRAFT_JAVA_OPTS:-} -cp "$CP" "$@"
