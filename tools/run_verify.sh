#!/bin/bash
# Run graft.Verify directly (no sbt JVM spin-up): writes each query's
# result parquet + oracle_sql.json to $2, reading tables from $1.
# Usage: tools/run_verify.sh /root/testdata/sf0.01 /tmp/verify_out [query...]
# Extra args select specific queries (Verify rejects unknown names).
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/verify_out}
shift 2 2>/dev/null || shift $#
# Verify runs local[4] unless SPARK_GRAFT_CPUS says otherwise (the
# session's own default is every available processor)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}"
# the compiled classes of the checkout this script lives in
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT_DIR" "$@"
