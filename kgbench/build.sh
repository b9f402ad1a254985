#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine's sources (src/main/scala)
# together with the benchmark's own (kgbench/src) into <out>/classes, using
# the Scala compiler that ships in Spark's jars directory.
#
#   kgbench/build.sh [out-dir]      (default: .bench_build at the repo root)
#
# SPARK_HOME selects the Spark install.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:-$root/.bench_build}"
jars="${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars"

if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "build.sh: engine sources not found under $root/src/main/scala" >&2
  exit 2
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build.sh: no scala-compiler jar in $jars (set SPARK_HOME)" >&2
  exit 2
fi

mkdir -p "$out"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find "$root/src/main/scala" "$root/kgbench/src" -name '*.scala' | sort > "$out/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
