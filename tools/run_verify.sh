#!/bin/bash
# Run graft.Verify directly (no sbt JVM spin-up): writes each query's
# result parquet + oracle_sql.json to $2, reading tables from $1.
# Usage: tools/run_verify.sh /root/testdata/sf0.01 /tmp/verify_out [query...]
# Extra args select specific queries (Verify rejects unknown names).
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/verify_out}
shift 2 2>/dev/null || shift $#
# Verify runs local[4] with an 8 GB heap unless the environment says
# otherwise (the session's own default is every available processor)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-8g}"
exec "$(dirname "${BASH_SOURCE[0]}")/jrun.sh" graft.Verify "$SF_DIR" "$OUT_DIR" "$@"
