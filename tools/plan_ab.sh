#!/bin/bash
# Query-plan A/B: runs graft.Explain on the compiled classes of two
# checkouts (say, a parent commit and a change) and prints a unified
# diff of the formatted physical plans. Run-to-run ids are normalized
# first (expression ids #N, plan_id=N, RDD[N], Subquery N, lambda class
# names, and the ids AQE and whole-stage codegen number in completion
# order: query-stage ids and codegen ids), so a clean run prints only
# the per-key exchange table and the closing summary line.
# After the diff, one line per key gives each side's count of Exchange
# and BroadcastExchange nodes (as "shuffles/broadcasts"), with a `*` on
# the keys whose counts differ; cached subplans count once each.
# Build each checkout first (`sbt -batch compile`).
#
# usage: tools/plan_ab.sh <checkoutA> <checkoutB> <sfDir> [key ...]
#   e.g. tools/plan_ab.sh ../parent . /data/sf0.001
#   (no keys: every SparkEntry.queries key, ~80 s per checkout at sf0.001)
set -uo pipefail
if [ "$#" -lt 3 ]; then
  echo "usage: $0 <checkoutA> <checkoutB> <sfDir> [key ...]" >&2
  exit 2
fi
A="$(cd "$1" && pwd)"; B="$(cd "$2" && pwd)"; DIR="$(cd "$3" && pwd)"
shift 3
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
OUT="$(mktemp -d "${TMPDIR:-/tmp}/plan_ab.XXXXXX")"
explain() { # <checkout> <out>
  # shellcheck disable=SC2086
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" \
    java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-3g}" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "$1/target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.Explain "$DIR" "${KEYS[@]}" 2>"$2.log" |
    sed -E -e 's/#[0-9]+L?/#N/g' -e 's/plan_id=[0-9]+/plan_id=N/g' \
      -e 's/RDD\[[0-9]+\]/RDD[N]/g' -e 's/Subquery [0-9]+/Subquery N/g' \
      -e 's/\$\$Lambda[^ ,)]*@[0-9a-f]+/$$Lambda/g' \
      -e 's/([A-Za-z]+QueryStage) [0-9]+/\1 N/g' \
      -e '/^\([0-9]+\) [A-Za-z]+QueryStage$/,/^Arguments:/s/^Arguments: [0-9]+$/Arguments: N/' \
      -e 's/\*\([0-9]+\)/*(N)/g' -e 's/\[codegen id : [0-9]+\]/[codegen id : N]/g' >"$2"
  local rc="${PIPESTATUS[0]}"
  if [ "$rc" -ne 0 ]; then
    echo "== graft.Explain FAILED in $1 (rc=$rc; stderr: $2.log) ==" >&2
    exit 1
  fi
}
KEYS=("$@")
explain "$A" "$OUT/a.txt"
explain "$B" "$OUT/b.txt"
diff -u --label "$A" --label "$B" "$OUT/a.txt" "$OUT/b.txt"
rc=$?
exchanges() { # <plans> -> "<key> <shuffles>/<broadcasts>" per key
  awk '/^========== .* ==========$/ { k = $2; keys[++n] = k; ex[k] = 0; bx[k] = 0; next }
       /^\([0-9]+\) Exchange$/ { ex[k]++ }
       /^\([0-9]+\) BroadcastExchange$/ { bx[k]++ }
       END { for (i = 1; i <= n; i++) print keys[i], ex[keys[i]] "/" bx[keys[i]] }' "$1"
}
echo "== plan_ab: Exchange/BroadcastExchange nodes per key, A -> B =="
join -a 1 -a 2 -e - -o 0,1.2,2.2 <(exchanges "$OUT/a.txt" | sort) \
    <(exchanges "$OUT/b.txt" | sort) |
  awk '{ printf "%-36s %7s -> %-7s%s\n", $1, $2, $3, ($2 == $3 ? "" : " *") }'
echo "== plan_ab: $(grep -c '^==========' "$OUT/a.txt") plans, diff rc=$rc (outputs: $OUT) =="
exit "$rc"
