#!/usr/bin/env bash
# Run a graft main class directly against the sbt-compiled classes dir,
# with the fork flags build.sbt resolved (written to target/jvm-options by
# `sbt compile`), without holding the sbt lock, so scale runs and local
# iteration can overlap. SPARK_DRIVER_MEM, when set, replaces the -Xmx.
# Usage: scripts/run_main.sh graft.ScaleData <args...>
set -euo pipefail
cd "$(dirname "$0")/.."
OPTS_FILE=target/jvm-options
if [ ! -f "$OPTS_FILE" ]; then
  echo "run_main.sh: $OPTS_FILE not found; run sbt compile first" >&2
  exit 1
fi
mapfile -t OPTS < "$OPTS_FILE"
if [ -n "${SPARK_DRIVER_MEM:-}" ]; then
  for i in "${!OPTS[@]}"; do
    if [[ ${OPTS[$i]} == -Xmx* ]]; then OPTS[$i]="-Xmx$SPARK_DRIVER_MEM"; fi
  done
fi
exec java "${OPTS[@]}" -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
