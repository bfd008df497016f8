#!/usr/bin/env bash
# Cross-JVM publish race probe: two driver JVMs write the same topic
# concurrently; a third verifies nothing was lost, duplicated, or
# overlapped. Exercises the commit race ConnectorSpec cannot reach
# in-process (two drivers' put-if-absent on the same commit-log version,
# the loser's re-read and retry) because RipplePublish is synchronized
# per JVM.
#
# Usage: tools/race_probe.sh [iterations] [rows-per-writer] [mode]
#   mode = local  (default) — the commit log over local disk (put-if-absent
#                             by hard link)
#   mode = ostest           — the commit log over the S3-semantics rig (no
#                             atomic rename, put-if-absent by conditional
#                             PUT); needs Test/compile for
#                             graft.ObjectStoreTestFs
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -euo pipefail
cd "$(dirname "$0")/.."

ITER="${1:-5}"
N="${2:-200}"
MODE="${3:-local}"
CP="target/scala-2.13/classes:target/scala-2.13/test-classes:/opt/spark/jars/*"

for i in $(seq 1 "$ITER"); do
  DIR="$(mktemp -d /tmp/raceprobe.XXXXXX)"
  if [ "$MODE" = "ostest" ]; then ROOT="ostest:$DIR"; else ROOT="$DIR"; fi
  java -cp "$CP" graft.tools.RaceProbe write "$ROOT" race "$N" 1 &
  P1=$!
  java -cp "$CP" graft.tools.RaceProbe write "$ROOT" race "$N" 2 &
  P2=$!
  wait "$P1" "$P2"
  java -cp "$CP" graft.tools.RaceProbe check "$ROOT" race "$((2 * N))"
  rm -rf "$DIR"
  echo "[probe] iteration $i/$ITER ($MODE) OK"
done
echo "[probe] all $ITER iterations passed ($MODE)"
