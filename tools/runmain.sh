#!/bin/bash
# Run a graft main class with plain `java` (same JVM flags sbt's forked
# run uses) — avoids the sbt target-lock so a bench can run while sbt
# compiles/tests elsewhere. Usage: tools/runmain.sh graft.Bench [args...]
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CLASSES=$ROOT/target/scala-2.13/classes
CLASS=$1; shift
if [ -z "$CLASS" ]; then
  echo "usage: tools/runmain.sh <main-class> [args...]" >&2; exit 2
fi
if [ ! -d "$CLASSES" ]; then
  echo "error: $CLASSES missing - run 'sbt compile' first" >&2; exit 2
fi
# stale-bytecode guard: warn when any source is newer than the newest class
NEWEST_SRC=$(find "$ROOT/src/main/scala" -name '*.scala' -newer \
  "$(find "$CLASSES" -name '*.class' -printf '%T@ %p\n' | sort -rn | head -1 | cut -d' ' -f2-)" \
  2>/dev/null | head -1)
if [ -n "$NEWEST_SRC" ]; then
  echo "warning: $NEWEST_SRC is newer than compiled classes - 'sbt compile' to refresh" >&2
fi
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$CLASS" "$@"
