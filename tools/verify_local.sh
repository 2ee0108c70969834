#!/bin/bash
# Dev-only: run graft.Verify directly (no sbt JVM spin-up) then compare
# against DuckDB with tools/check_oracle.py — a local replica of the
# driver's correctness gate. Usage: tools/verify_local.sh [sfDir] [outDir]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT" 2>/tmp/verify_stderr.log \
  || { tail -40 /tmp/verify_stderr.log; exit 1; }
python3 tools/check_oracle.py "$SF" "$OUT"
