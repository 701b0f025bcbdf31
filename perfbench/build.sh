#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine (src/main/scala)
# together with the harness (perfbench/src) into one class directory, with
# the Scala compiler that ships inside the Spark distribution, so the build
# needs no sbt, no network and no dependency cache.
#
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>
#
# Run from the repository root. The Spark distribution's jars are the whole
# compile and run classpath.
set -euo pipefail

out="${1:?usage: build.sh <out-dir> <spark-jars-dir>}"
jars="${2:?usage: build.sh <out-dir> <spark-jars-dir>}"
for d in src/main/scala src/main/resources perfbench/src; do
  [ -d "$d" ] || { echo "build.sh: missing $d (run from the repository root)" >&2; exit 2; }
done
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }

rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -encoding UTF-8 -classpath "$jars/*" -d "$out" "@$out.sources"
cp -R src/main/resources/. "$out/"
rm -f "$out.sources"
