#!/bin/bash
# Run a graft main class against the compiled sbt output + Spark jars,
# bypassing sbt's runner (faster, stdout not swallowed).
# Usage: tools/run.sh <mainClass> [args...]
MAIN="$1"; shift
# the classes of the checkout this script belongs to, wherever it lives, and
# the jars of the Spark distribution named by SPARK_HOME or else of the one
# whose spark-submit is on PATH (the rule graftbench/build.py uses)
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$SPARK_HOME/jars/*" \
  "$MAIN" "$@"
