#!/usr/bin/env bash
# Atomic bench-artifact runner (dev tooling, not shipped).
#
# Runs graft.Bench against a fixture dir and writes the single JSON
# result line to the target path via unique-tmp + rename — the
# ArtifactStore pattern — so a kill at ANY point leaves either the old
# artifact or the new one at the target path, never a truncated file.
#
# Usage: tools/run_bench.sh <sfDir> <outJson> [extraJvmArgs...]
set -euo pipefail
sfdir=$1; out=$2; shift 2
tmp="${out}.tmp.$$"
log="${out}.log"
trap 'rm -f "$tmp"' EXIT
# JDK 17 module opens (same list as build.sbt / spark-submit injects):
# needed since the components loop shuffles RDDs through Kryo.
addopens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  addopens="$addopens --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  addopens="$addopens --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$sfdir" java -Xmx${SPARK_DRIVER_MEM:-4g} $addopens "$@" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  > "$log" 2>&1 || { echo "bench failed; see $log" >&2; exit 1; }
# Bench prints exactly one JSON object line (starts with {"metric").
grep -m1 '^{"metric"' "$log" > "$tmp"
[ -s "$tmp" ] || { echo "no JSON line in $log" >&2; exit 1; }
mv "$tmp" "$out"
trap - EXIT
echo "wrote $out ($(wc -c < "$out") bytes)"
