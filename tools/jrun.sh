#!/bin/bash
# Run any graft main class directly: tools/jrun.sh graft.Explain <args...>
# the compiled classes of the checkout this script lives in, plus its
# resources (the zip-entries DataSourceRegister entry), which
# `sbt compile` does not copy into the classes directory
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_JAVA_OPTS: extra JVM flags (e.g. -Dspark.graft.* session conf keys)
exec java $ADD_OPENS ${SPARK_GRAFT_JAVA_OPTS:-} -Xmx"${SPARK_DRIVER_MEM:-24g}" -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
