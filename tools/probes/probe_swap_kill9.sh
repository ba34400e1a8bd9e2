#!/usr/bin/env bash
# Fault-injection probe for graft.io.IO.replaceDir: kill -9 a JVM
# mid-rebuild (after the staged write, during the build function) and
# verify the live artifact survives byte-for-byte, the orphaned .staged
# is cleaned by the next build, and the rebuild publishes normally.
# Run from the repo root: tools/probes/probe_swap_kill9.sh
set -u
cd "$(dirname "$0")/../.."
SHELL_ARGS="--master local[8] --conf spark.ui.enabled=false \
  --conf spark.sql.shuffle.partitions=8 --conf spark.sql.session.timeZone=UTC \
  --driver-class-path target/scala-2.13/classes"

LOG=$(mktemp /tmp/swap_kill9.XXXXXX.log)
/opt/spark/bin/spark-shell $SHELL_ARGS \
  -i tools/probes/probe_swap_kill9_phase1.sc >"$LOG" 2>&1 &
P1=$!
for i in $(seq 1 120); do
  grep -q "SWAPK9 staged_written_sleeping" "$LOG" && break
  sleep 1
done
grep "SWAPK9" "$LOG"
if ! grep -q "SWAPK9 staged_written_sleeping" "$LOG"; then
  echo "SWAPK9 FAIL: phase 1 never reached the kill window"; kill -9 $P1; exit 1
fi
# kill the whole process group of the rebuild JVM mid-build
PIDS=$(pgrep -f "probe_swap_kill9_phase1" || true)
echo "SWAPK9 killing: $PIDS"
kill -9 $PIDS 2>/dev/null
wait $P1 2>/dev/null
/opt/spark/bin/spark-shell $SHELL_ARGS \
  -i tools/probes/probe_swap_kill9_phase2.sc 2>/dev/null | grep SWAPK9
