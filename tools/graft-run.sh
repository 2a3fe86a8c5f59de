#!/bin/bash
# Run a compiled graft main class directly (no sbt server / compile
# lock): tools/graft-run.sh <MainClass> [args...]. Compile first with
# `sbt compile`. Mirrors build.sbt's forked-run JVM flags so Bench /
# Verify / ScaleUp behave identically to `sbt runMain`.
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS_FLAGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${OPENS_FLAGS[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize="${SPARK_CODE_CACHE:-512m}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$@"
