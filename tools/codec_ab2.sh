#!/bin/bash
# Shuffle-codec A/B round 2 (round-10 task 3): attack the measured
# zstd small-SF tax (+16.8% over the five drifted graph queries at
# sf0.1, BENCH_SKEW codec_ab) with the codec's own knobs instead of
# abandoning its 62% shuffle-byte cut. Spark 4 defaults: level 1,
# bufferSize 32k, bufferPool on — the drift hypothesis is per-stream /
# per-chunk JNI overhead on thousands of tiny shuffle blocks, so the
# candidates vary the buffer geometry:
#   A  zstd defaults            (the shipped conf — baseline)
#   B  zstd bufferSize=512k     (16x fewer JNI calls per stream)
#   C  zstd bufferSize=128k     (middle point)
#   D  zstd bufferPool off      (is the pool helping or hurting here?)
#   E  lz4                      (the reference point codec_ab measured)
# Rows A and E alone are the BENCH_SKEW codec_ab protocol (zstd default
# against lz4, same key list, same passes).
# Protocol: min-of-3 per query per config (graft.Bench), two
# interleaved passes per config = effective min-of-6 with shared VM
# weather; stderr per run logged, crashes print FAILED.
#
# usage: tools/codec_ab2.sh [sfDir]
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
  local log="${TMPDIR:-/tmp}/codec_ab2.$$.$nrun.log"
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
  run "A zstd default pass$pass"
  run "B zstd buf512k pass$pass" \
    env SPARK_GRAFT_CONF="spark.io.compression.zstd.bufferSize=524288"
  run "C zstd buf128k pass$pass" \
    env SPARK_GRAFT_CONF="spark.io.compression.zstd.bufferSize=131072"
  run "D zstd no-pool pass$pass" \
    env SPARK_GRAFT_CONF="spark.io.compression.zstd.bufferPool.enabled=false"
  run "E lz4 pass$pass" \
    env SPARK_GRAFT_CONF="spark.io.compression.codec=lz4"
done
