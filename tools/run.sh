#!/bin/bash
# Fast runner: bypasses sbt startup. Usage: tools/run.sh <mainClass> [args...]
# (compile first with `sbt compile`)
set -e
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# 512m code cache: ~1500 retained janino classes plus
# Spark/MLlib leave the JVM default 240m close enough to full that the
# sweeper starts dropping hot compiled methods (measured ~2x on the
# MLlib fit queries). A/B'd in round 5: growing the codegen class cache
# past ~1500 OR the code cache to 1g both made the concurrent-fit
# queries WORSE (see BENCH_HISTORY round 5 — the late-suite band is
# JIT-state variance, not a single-knob fix); 512m + 1500 remains the
# validated operating point.
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -XX:ReservedCodeCacheSize=512m \
  -cp "$CP" "$@"
