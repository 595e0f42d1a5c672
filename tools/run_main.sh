#!/bin/bash
# Direct JVM launcher for graft mains (avoids sbt lock contention when
# chaining long scale runs). JVM options (e.g. a `-Dspark.*=...` setting,
# which the session picks up) may precede the main class. Usage:
#   GRAFT_MEM=64g SPARK_GRAFT_CPUS=32 tools/run_main.sh graft.Bench [args...]
#   CLASSES_DIR=/tmp/classes_old tools/run_main.sh graft.Bench
set -euo pipefail
# repo root derives from this script's location — works from any checkout
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="${CLASSES_DIR:-$REPO/target/scala-2.13/classes}"
if [ ! -d "$CLASSES" ]; then
  echo "[run_main] $CLASSES missing — run 'sbt compile' first" >&2
  exit 1
fi
# stale-class guard for this checkout's own classes: warn when any source
# is newer than the newest class file (the classes DIR mtime only tracks
# its direct children, so compare against an actual compiled artifact)
NEWEST_CLASS=""
if [ -z "${CLASSES_DIR:-}" ]; then
  NEWEST_CLASS=$(find "$CLASSES" -name '*.class' -printf '%T@ %p\n' 2>/dev/null \
    | sort -rn | head -1 | cut -d' ' -f2- || true)
fi
if [ -n "$NEWEST_CLASS" ]; then
  NEWEST_SRC=$(find "$REPO/src/main/scala" -name '*.scala' \
    -newer "$NEWEST_CLASS" -print -quit 2>/dev/null || true)
  if [ -n "$NEWEST_SRC" ]; then
    echo "[run_main] WARNING: $NEWEST_SRC is newer than the compiled" \
      "classes — running STALE code; run 'sbt compile'" >&2
  fi
fi
CP="$CLASSES:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"${GRAFT_MEM:-8g}" -cp "$CP" "$@"
