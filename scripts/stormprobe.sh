#!/usr/bin/env bash
# Host-storm detector for bench windows (SCALE.md rounds 10-12: the VM
# host shows multi-hour windows where kernel time dwarfs user time and
# shuffle/build-heavy Spark stages run 3-10x slow; sys > user on a
# medium probe is the documented signature).
#
# Runs ONE medium shuffle-heavy query (q59 BM25 at the 100x replica,
# ~2-4 s calm, sys << user) and prints CALM or STORM with the numbers.
# Usage: scripts/stormprobe.sh [replica_dir]   (default tmp_sf100)
set -u
cd "$(dirname "$0")/.."
source scripts/bare_jvm_env.sh
DIR="${1:-/root/repo/tmp_sf100}"
OUT=$(mktemp)
/usr/bin/env bash -c "time env SPARK_GRAFT_SF_DIR=$DIR SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_PARTS=32 SPARK_GRAFT_BENCH_REPS=1 SPARK_GRAFT_BENCH_OUT=$OUT.json \
  java -Xmx16g -cp 'target/scala-2.13/classes:/opt/spark/jars/*' \
  graft.Bench q59_bm25_scoring > $OUT.log 2>&1" 2> "$OUT.time"
REAL=$(awk '/^real/{print $2}' "$OUT.time")
USERT=$(awk '/^user/{print $2}' "$OUT.time" | awk -Fm '{print $1*60+$2}' | sed 's/s//')
SYST=$(awk '/^sys/{print $2}' "$OUT.time" | awk -Fm '{print $1*60+$2}' | sed 's/s//')
Q=$(grep -o '"q59_bm25_scoring":[0-9.]*' "$OUT.json" 2>/dev/null | cut -d: -f2)
# a probe that produced no per-query time is BROKEN (missing replica
# dir, unbuilt classes, JVM crash — graft.Bench lists a throwing query
# under "failed" with no time, so an empty/0 time must never read as CALM)
if [ -z "${Q:-}" ] || awk -v q="$Q" 'BEGIN{exit !(q < 0.2)}'; then
  echo "BROKEN wall=$REAL user=${USERT}s sys=${SYST}s q59=${Q:-none} dir=$DIR (probe did not run — see $OUT.log)"
  exit 2
fi
VERDICT="CALM"
# Three-band verdict (r13 verdict #4 — the script's STORM-only gate and
# BASELINE.md's documented calm signal disagreed):
#   STORM    — kernel time exceeds user time, or q59 far above band (>8s)
#   MARGINAL — sys gate passes but q59 sits above the documented calm
#              band (~<=3.5 s on round-13+ code): Spark-side drift is
#              plausible; do NOT adjudicate weak-list entries from this
#              window, but totals remain roughly comparable
#   CALM     — sys gate passes and q59 is inside the calm band; the only
#              verdict weaklist.py accepts for adjudication labeling
awk -v s="$SYST" -v u="$USERT" -v q="$Q" 'BEGIN{exit !(s > u || q > 8)}' \
  && VERDICT="STORM"
[ "$VERDICT" = "CALM" ] \
  && awk -v q="$Q" 'BEGIN{exit !(q > 3.5)}' && VERDICT="MARGINAL"
echo "$VERDICT wall=$REAL user=${USERT}s sys=${SYST}s q59=${Q}s dir=$DIR"
rm -f "$OUT" "$OUT.log" "$OUT.json" "$OUT.time"
# exit 0 only for strict CALM; MARGINAL=1, STORM=1, BROKEN=2
[ "$VERDICT" = "CALM" ]
