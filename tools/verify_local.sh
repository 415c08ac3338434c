#!/bin/bash
# Local mirror of the driver's correctness gate: run graft.Verify on sf0.01,
# then compare each query's parquet against its DuckDB oracle.
# GRAFT_FORCE_DISTRIBUTED=1 turns every operator's driver regime off
# (spark.graft.driverRegime.enabled=false), so the distributed paths answer.
set -e
SF_DIR=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
rm -rf "$OUT"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $ADD_OPENS -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  ${GRAFT_FORCE_DISTRIBUTED:+-Dspark.graft.driverRegime.enabled=false} \
  -cp "/root/repo/target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF_DIR" "$OUT" "${@:3}" 2>/tmp/verify_stderr.log || { tail -30 /tmp/verify_stderr.log; exit 1; }
python3 /root/repo/tools/compare.py "$SF_DIR" "$OUT"
