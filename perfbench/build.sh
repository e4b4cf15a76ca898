#!/usr/bin/env bash
# Build file of the benchmark: compiles the library's main sources
# (src/main/scala) together with the benchmark's own (perfbench/src)
# into one classes directory, with the Scala compiler and Spark jars in
# <spark-jars-dir>. Run from the repository root:
#
#   bash perfbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
out=$1
jars=$2
[ -d src/main/scala ] && [ -d perfbench/src ] || { echo "build.sh: run from the repository root" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-*.jar "$jars"/scala-library-*.jar "$jars"/scala-reflect-*.jar | tr '\n' ':')
classpath=$(ls "$jars"/*.jar | tr '\n' ':')
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$compiler" scala.tools.nsc.Main \
  -nowarn -classpath "$classpath" -d "$out" @"$out/sources.txt"
