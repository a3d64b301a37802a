#!/usr/bin/env bash
# Compiles graft (src/main/scala) and the kgbench harness (kgbench/scala)
# into .bench_build/kgbench/classes with the Scala compiler that ships in
# Spark's jars directory. Run from the repository root:
#   bash kgbench/build.sh <spark-jars-dir>
set -euo pipefail
spark_jars="${1:?usage: bash kgbench/build.sh <spark-jars-dir>}"
out=.bench_build/kgbench
if [ ! -d src/main/scala ] || [ ! -d kgbench/scala ]; then
  echo "kgbench/build.sh: run from the repository root (src/main/scala missing)" >&2
  exit 2
fi
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala kgbench/scala -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$spark_jars/*" scala.tools.nsc.Main -nowarn \
  -Ybackend-parallelism 4 -classpath "$spark_jars/*" \
  -d "$out/classes.tmp" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
