#!/bin/bash
# Local correctness loop: run graft.Verify on $1 (default sf0.01), then
# duckdb-compare via tools/check.py. Mirrors the driver's gate.
# Usage: tools/verify.sh [sfDir] [outDir] [gate,gate,...]
# The optional list restricts the dump (and oracle_sql.json) to those gates.
set -e
cd /root/repo
SF_DIR=${1:-/root/testdata/sf0.01}
OUT_DIR=${2:-/tmp/graft_verify}
rm -rf "$OUT_DIR"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT_DIR" ${3:+"$3"}
python3 /root/repo/tools/check.py "$SF_DIR" "$OUT_DIR"
