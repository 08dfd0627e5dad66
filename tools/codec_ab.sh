#!/bin/bash
# Shuffle-codec A/B (round-9 task 2): the round-8 bench showed the
# graph family drifting +10-47% at sf0.1 with no code change; the
# suspect is the zstd shuffle default (79dfbec). Bench the five
# drifted queries isolated, min-of-3 (graft.Bench's stall-robust
# protocol), once under the zstd default and once with
# SPARK_GRAFT_CONF forcing lz4 — same JVM flags, same box,
# back-to-back so VM weather is shared.
#
# usage: tools/codec_ab.sh [sfDir]
set -uo pipefail
DIR="${1:-/root/testdata/sf0.1}"
ONLY="q22_neighbor_avg_degree,q25_row_normalize_adj,q43_col_normalize_adj,\
q73_pagerank,q80_weighted_pagerank"
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
nrun=0
run() {
  local label="$1"; shift
  nrun=$((nrun + 1))
  echo "== $label =="
  # stderr to a per-run log (a crashed JVM prints FAILED, not an empty
  # section); the recorded protocol is min-of-3 × two interleaved
  # passes per codec = effective min-of-6 with shared VM weather
  local log="${TMPDIR:-/tmp}/codec_ab.$$.$nrun.log"
  SPARK_GRAFT_SF_DIR="$DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    SPARK_GRAFT_ONLY="$ONLY" SPARK_GRAFT_REPS=3 \
    SPARK_GRAFT_BENCH_BUDGET=1800 "$@" \
    java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-16g}" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$CP" graft.Bench 2>"$log" | grep '"metric"'
  local status=("${PIPESTATUS[@]}")
  if [ "${status[0]}" -ne 0 ] || [ "${status[1]}" -ne 0 ]; then
    echo "== $label FAILED (jvm rc=${status[0]}," \
      "metric-line rc=${status[1]}; stderr: $log) =="
  fi
}
for pass in 1 2; do
  run "zstd (default) pass$pass"
  run "lz4 pass$pass" env SPARK_GRAFT_CONF="spark.io.compression.codec=lz4"
done
