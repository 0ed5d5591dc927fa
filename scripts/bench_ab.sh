#!/bin/bash
# graft.Bench A/B between two compiled class trees on the same box:
#
#   scripts/bench_ab.sh <classes-A> <classes-B>
#
# e.g. a parent checkout's target/scala-2.13/classes against this one's.
# Both trees are snapshotted to a temporary directory first, so a
# recompile cannot swap classes under a running JVM. Each of four legs
# runs Bench once per side, two reps per query; the side that runs first
# alternates from leg to leg (A first in odd legs, B first in even ones).
# One Bench JVM at a time: the landed probe indexes are shared, and a
# second JVM overwrites them mid-run.
#
# Environment:
#   QS    comma-separated query names (SPARK_GRAFT_ONLY); default below
#   OUT   output directory (default bench_ab); each run writes
#         bench_<side><leg>.json, per-query medians under "queries", and
#         bench_<side><leg>.log
# Bench's own variables pass through (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_GC, ...). SPARK_HOME must name the Spark install whose
# jars/ the JVMs load.
set -uo pipefail
if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 <classes-A> <classes-B>" >&2
  exit 2
fi
A=$(cd "$1" && pwd)
B=$(cd "$2" && pwd)
cd "$(dirname "$0")/.."

OUT=${OUT:-bench_ab}
QS=${QS:-q181_qc_chain_golden,q181b_qc_chain_full,q86_bpe_tokenize,q86b_bpe_segment,q41_token_count_bpe,q74_near_dedup_against,q75_near_dedup_indexed,q78_near_dedup_index_append,near_dedup_index_probe,ngram_lm_probe,bm25_probe,ann_ivf_probe,paragraph_store_probe,q09_despike,q82_strip_spans}
mkdir -p "$OUT"
SNAP=$(mktemp -d)
trap 'rm -rf "$SNAP"' EXIT
cp -r "$A" "$SNAP/a"
cp -r "$B" "$SNAP/b"

JAVA_OPTS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx48g -XX:ReservedCodeCacheSize=1g -Xss32m"
SPARK_JARS=${SPARK_HOME:?SPARK_HOME must point at a Spark install with a jars/ directory}/jars

for leg in 1 2 3 4; do
  order=$([ $((leg % 2)) = 1 ] && echo "a b" || echo "b a")
  for side in $order; do
    echo "[ab] $(date +%H:%M:%S) start ${side}$leg"
    env SPARK_GRAFT_REPS=2 SPARK_GRAFT_ONLY="$QS" \
      SPARK_GRAFT_BENCH_OUT="$OUT/bench_${side}$leg.json" \
      java $JAVA_OPTS -cp "$SNAP/$side:$SPARK_JARS/*" graft.Bench \
      > "$OUT/bench_${side}$leg.log" 2>&1
    echo "[ab] $(date +%H:%M:%S) done ${side}$leg rc=$?"
  done
done
echo "[ab] all done"
