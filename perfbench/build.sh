#!/usr/bin/env bash
# Builds the graft engine and the benchmark into one class directory with
# the Scala 2.13 compiler that ships among Spark's jars.
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>   (from the repo root)
set -euo pipefail
out="$1"
jars="$2"
rm -rf "$out.tmp" && mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -cp "$jars/*" "@$out.tmp/sources.txt"
rm -rf "$out" && mv "$out.tmp" "$out"
