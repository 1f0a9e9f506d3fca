#!/bin/bash
# Run one (or a few, comma-separated) SparkEntry queries through the
# Bench child JVM directly, with a wall-clock timeout. Usage:
#   scripts/bench_one.sh <keys> <sf_dir> [timeout_sec] [trials] [cpus] [xmx]
#
# Outcome lines (TSV): OK <key> <median> [<min> <max>] from the child;
# synthesized here: TIMEOUT (exit 124, or 137 at/after the deadline),
# KILLED (exit 137 before the deadline — kernel OOM-killer or external
# kill), ERR (any other nonzero exit with no result line written).
set -u
KEYS="$1"; SF="$2"; TMO="${3:-300}"; TRIALS="${4:-1}"; CPUS="${5:-32}"; XMX="${6:-16g}"
OUT=$(mktemp /tmp/bench_one.XXXX.tsv)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
T0=$(date +%s)
SPARK_GRAFT_CHILD=1 SPARK_GRAFT_ONLY="$KEYS" SPARK_GRAFT_OUT="$OUT" \
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_TRIALS="$TRIALS" SPARK_GRAFT_CPUS="$CPUS" \
timeout -k 10 "$TMO" java $ADD_OPENS -Xmx"$XMX" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  > /tmp/bench_one.log 2>&1
CODE=$?
ELAPSED=$(( $(date +%s) - T0 ))
# partial lines survive a mid-group death now that the child appends
# per key — always surface them, then mark the group's failure mode
# (report scripts flag the still-missing keys explicitly)
[ -s "$OUT" ] && cat "$OUT"
if [ $CODE -eq 124 ]; then
  echo "TIMEOUT	$KEYS	>${TMO}s"
elif [ $CODE -eq 137 ]; then
  if [ $ELAPSED -ge $TMO ]; then
    echo "TIMEOUT	$KEYS	>${TMO}s"
  else
    echo "KILLED	$KEYS	exit137_after_${ELAPSED}s"
  fi
elif [ $CODE -ne 0 ] && [ ! -s "$OUT" ]; then
  echo "ERR	$KEYS	exit${CODE}_after_${ELAPSED}s"
fi
rm -f "$OUT"
exit 0
