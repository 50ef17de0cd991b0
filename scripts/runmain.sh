#!/usr/bin/env bash
# Dev-only launcher: run a graft main on the compiled classes WITHOUT sbt,
# so several sweeps (Verify / Bench / VerifyApprox) can run concurrently —
# sbt serializes on the project lock. Mirrors build.sbt's forked-JVM flags
# (JDK17 add-opens + UTC). Usage:
#   scripts/runmain.sh [-Xmx…] graft.Verify <sfDir> <outDir> [names…]
set -euo pipefail
cd "$(dirname "$0")/.."
XMX="${SPARK_DRIVER_MEM:-12g}"
if [[ "${1:-}" == -Xmx* ]]; then XMX="${1#-Xmx}"; shift; fi
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net \
  java.nio java.util java.util.concurrent java.util.concurrent.atomic)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
exec java "${FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$XMX" \
  -cp "${GRAFT_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*" "$@"
