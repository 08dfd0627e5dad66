#!/bin/bash
# Pipeline flag-set A/B runner: runs a pipeline main on a scale-factor
# directory once per flag set and prints its one "metric" JSON line per
# set. The default main is graft.PipelineRun (the README tier protocol:
# LR maxIter=20, stratified split, one fraud_pipeline line per tier);
# --main=graft.CurationRun runs the curation gates instead (one
# curation_pipeline report line per gate set). Each set runs in a fresh
# JVM so cache state and GC debt never leak across rows.
#
# usage: tools/tier_ab.sh [--main=<class>] <sfDir> "<flags>" ["<flags>" ...]
#   e.g. tools/tier_ab.sh /tmp/sfgen/sf10 "" "--lstm" "--slices-attn --lstm"
#        tools/tier_ab.sh --main=graft.CurationRun /tmp/sfgen/sf0.01 "" "--dup-cap=0.2"
set -uo pipefail
MAIN=graft.PipelineRun
case "${1:-}" in
  --main=*) MAIN="${1#--main=}"; shift ;;
esac
DIR="$1"; shift
# the classes of the checkout this script sits in, so checkouts of two
# commits each run their own build
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
n=0
for flags in "$@"; do
  n=$((n + 1))
  echo "== flags: ${flags:-none} =="
  # stderr goes to a per-run log, never /dev/null: a crashed JVM must
  # print FAILED with a pointer, not a silently missing A/B row
  log="${TMPDIR:-/tmp}/tier_ab.$$.$n.log"
  # shellcheck disable=SC2086
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-24g}" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$CP" "$MAIN" "$DIR" $flags 2>"$log" | grep '"metric"'
  status=("${PIPESTATUS[@]}")
  if [ "${status[0]}" -ne 0 ] || [ "${status[1]}" -ne 0 ]; then
    echo "== flags ${flags:-none} FAILED (jvm rc=${status[0]}," \
      "metric-line rc=${status[1]}; stderr: $log) =="
  fi
done
