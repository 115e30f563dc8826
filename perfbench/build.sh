#!/usr/bin/env bash
# Builds the benchmark and the program it measures into one class dir.
# Usage: bash perfbench/build.sh OUT_DIR   (from the repository root)
# Compiles src/main/scala (the program) and perfbench/src (the benchmark)
# with the Scala compiler that ships in Spark's jars, so no build tool
# or dependency download is needed.
set -euo pipefail
out="$1"
jars="${SPARK_HOME:?SPARK_HOME must point at a Spark distribution}/jars"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
rm -rf "$out"
mkdir -p "$out"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out" "@$out.sources"
rm -f "$out.sources"
