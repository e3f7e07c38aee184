#!/bin/bash
# Run a graft main class directly against the sbt-compiled classes (the
# library's and the harness's; `sbt Test/compile` builds both) + the
# image's Spark jars — no sbt session, so long stress probes don't
# hold the build lock while compilation/tests continue elsewhere.
# Usage: tools/run_main.sh graft.ScaleStress [args...]
# Heap: SPARK_DRIVER_MEM (default 8g) — same knob as build.sbt's fork.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Snapshot the classes dir: the JVM loads classes lazily, so a
# recompile DURING a long probe would mix old and new class versions
# mid-run. The snapshot pins the binary the probe started with.
SNAP=$(mktemp -d /tmp/graft_classes.XXXXXX)
trap 'rm -rf "$SNAP"' EXIT
mkdir "$SNAP/lib" "$SNAP/harness"
cp -r target/scala-2.13/classes/. "$SNAP/lib"/
cp -r harness/target/scala-2.13/classes/. "$SNAP/harness"/
# no exec: the shell must outlive the JVM so the EXIT trap reaps SNAP
java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$SNAP/lib:$SNAP/harness:/opt/spark/jars/*" \
  "$MAIN" "$@"
