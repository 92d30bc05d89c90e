#!/usr/bin/env bash
# Run a graft main class on the sbt runtime classpath WITHOUT holding the
# sbt project lock (long drives — MakeSf1, Verify@sf1, Bench — run for
# tens of minutes; sbt must stay free for compiles in parallel).
#
#   tools/run_main.sh <mainClass> [args...]
#
# e.g.
#   tools/run_main.sh graft.tools.Probe q1_tpch_full,graph_pagerank
#   tools/run_main.sh graft.tools.Probe q1_tpch_full plans/new _after
#   tools/run_main.sh graft.Verify <sfDir> <outDir>
#   tools/run_main.sh graft.tools.MakeSf1 /tmp/graft_sf1
#
# Env: SPARK_DRIVER_MEM (default 8g), SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR
# pass through. Classpath is cached at /tmp/graft_cp.txt (GRAFT_CP_FILE
# overrides the path); regenerate with
#   sbt -batch 'print Runtime/fullClasspath' | grep -o 'Attributed([^)]*)' \
#     | sed 's/Attributed(//;s/)//' | paste -sd: - > /tmp/graft_cp.txt
# after adding a dependency (class files recompile in place, no refresh
# needed for source-only changes).
set -euo pipefail
CP_FILE=${GRAFT_CP_FILE:-/tmp/graft_cp.txt}
if [[ ! -s "$CP_FILE" ]]; then
  echo "classpath cache $CP_FILE missing; see header comment" >&2
  exit 2
fi
MAIN=$1; shift
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar
)
OPENS=()
for p in "${ADD_OPENS[@]}"; do OPENS+=(--add-opens "$p=ALL-UNNAMED"); done
exec java "${OPENS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing \
  ${GRAFT_EXTRA_JAVA_OPTS:-} \
  -cp "$(cat "$CP_FILE")" "$MAIN" "$@"
