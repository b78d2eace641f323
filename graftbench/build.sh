#!/usr/bin/env bash
# Builds the benchmark: compiles the graft library (src/main/scala) and the
# harness (graftbench/src) into one class directory with the Scala compiler
# that ships in Spark's jars. Run from the repository root:
#   bash graftbench/build.sh <class-dir>
set -euo pipefail
out=$1
jars="${SPARK_HOME:-/opt/spark}/jars"
if [ ! -d src/main/scala ] || [ ! -d graftbench/src ]; then
  echo "build: run from the repository root (src/main/scala and graftbench/src not found)" >&2
  exit 1
fi
if [ ! -f "$jars/scala-compiler-2.13.17.jar" ]; then
  echo "build: no Scala 2.13.17 compiler in $jars (set SPARK_HOME)" >&2
  exit 1
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala graftbench/src -name '*.scala' | sort > "$out.tmp.sources"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -classpath "$jars/*" @"$out.tmp.sources"
rm -f "$out.tmp.sources"
rm -rf "$out"
mv "$out.tmp" "$out"
