#!/bin/bash
# Sighting measurements for r13 targets: one subprocess per (query, SF)
# via bench_heavy_sf1.py's query: child mode. Run SOLO.
# A child that prints no JSON result is recorded as
# {"tag", "sf", "q": null, "error": "<child exit status>"}.
set -u
TAG="$1"; shift
cd "$(dirname "$0")/.."
OUT="BENCH_R13_POINTS_${TAG}.jsonl"
SF01=/root/testdata/sf0.1
SF1=/root/repo/.benchdata/sf1_fresh
SF10=/root/repo/.benchdata/sf10_fresh
for spec in "$@"; do
  q="${spec%%@*}"; sf="${spec##*@}"
  case "$sf" in
    0.1) dir=$SF01;; 10x) dir=$SF1;; 100x) dir=$SF10;;
  esac
  out=$(python tools/bench_heavy_sf1.py --point "$dir" "query:$q" 2>/dev/null)
  status=$?
  line=$(printf '%s\n' "$out" | tail -1)
  if [ -n "$line" ] && python -c 'import json, sys; json.loads(sys.argv[1])' "$line" 2>/dev/null; then
    echo "{\"tag\": \"$TAG\", \"sf\": \"$sf\", \"q\": $line}"
  else
    echo "{\"tag\": \"$TAG\", \"sf\": \"$sf\", \"q\": null, \"error\": \"child exit status $status\"}"
  fi | tee -a "$OUT"
done
echo "POINTS_DONE_$TAG"
