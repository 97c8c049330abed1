#!/usr/bin/env bash
# Compare graft.PlanDump outputs pairwise: every <q>_<suffixA>.txt in <dir>
# against its <q>_<suffixB>.txt, after normalising what differs between two
# runs of the same plan (expression ids `#n`, UUIDs, `plan_id=`, the
# `@hash` of array literals printed in PQ/quantize expressions, the
# session's RDD counter in `RDD[n]`, and the JVM's name for a lambda's
# hidden class, `$$Lambda$n/0x<address>`, which differs between two runs
# of the same classes).
#
# Usage: scripts/plandiff.sh <dir> <suffixA> <suffixB>
# Prints one line per pair (identical / DIFFERS, with the diff) and exits
# non-zero when any pair differs or has no partner.
set -u
if [ $# -ne 3 ]; then
  echo "usage: $0 <dir> <suffixA> <suffixB>" >&2
  exit 2
fi
dir=$1 a=$2 b=$3

norm() {
  sed -E 's/#[0-9]+/#N/g; s/[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/UUID/g; s/plan_id=[0-9]+/plan_id=N/g; s/@[0-9a-f]+/@H/g; s/RDD\[[0-9]+\]/RDD[N]/g; s/Lambda\$[0-9]+\/0x[0-9a-f]+/Lambda$N/g' "$1"
}

status=0 pairs=0
for fa in "$dir"/*_"$a".txt; do
  [ -e "$fa" ] || continue
  q=$(basename "$fa" "_$a.txt")
  fb="$dir/${q}_$b.txt"
  pairs=$((pairs + 1))
  if [ ! -e "$fb" ]; then
    echo "MISSING  $q: no ${q}_$b.txt"
    status=1
  elif d=$(diff <(norm "$fa") <(norm "$fb")); then
    echo "identical $q"
  else
    echo "DIFFERS  $q"
    echo "$d"
    status=1
  fi
done
if [ "$pairs" -eq 0 ]; then
  echo "no *_$a.txt files in $dir" >&2
  exit 2
fi
exit $status
