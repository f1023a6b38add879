#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes + the
# image's Spark jars, bypassing sbt (no build lock, no sbt JVM): the
# long bench/audit runs can then be queued while sbt keeps serving
# compiles. Mirrors build.sbt's javaOptions (JDK17 add-opens, UTC,
# no UI). Heap via HEAP (default 16g — the bench noise guard; sf10
# runs pass 32g, the BASELINE "2M checkpoints OOM 8g" note).
#   tools/run_main.sh graft.Bench            # env: SPARK_GRAFT_*
#   SPARK_GRAFT_ONLY=f25_pagerank,f25b_pagerank_personalized \
#     SPARK_GRAFT_SF_DIR=testdata-sf1 HEAP=32g tools/run_main.sh graft.Bench
#   HEAP=4g tools/run_main.sh graft.PlanAudit <sfDir> s6_ann_ivfpq
set -euo pipefail
cd "$(dirname "$0")/.."
HEAP="${HEAP:-16g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$@"
