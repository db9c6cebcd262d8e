#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main) and the
# harness (perfbench/src) into one class directory with the Scala
# compiler that ships with Spark, so no dependency resolution is needed.
#
#   bash perfbench/build.sh [OUT_DIR]     # default: .bench_build/classes
#
# Needs SPARK_HOME (or spark-submit on PATH) and java.
set -euo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
out=${1:-$root/.bench_build/classes}
spark_home=${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}
jars="$spark_home/jars"
[ -d "$root/src/main/scala" ] || { echo "build.sh: no program sources under $root/src/main/scala" >&2; exit 1; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' > "$out.tmp.files"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -classpath "$jars/*" -d "$out.tmp" -nowarn "@$out.tmp.files"
if [ -d "$root/src/main/resources" ]; then cp -r "$root/src/main/resources/." "$out.tmp/"; fi
rm -rf "$out" "$out.tmp.files"
mv "$out.tmp" "$out"
