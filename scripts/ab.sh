#!/bin/bash
# Interleaved A/B of one perfbench workload: <base-ref> (checked out in a
# temporary git worktree) against this working tree.
#
#   scripts/ab.sh <base-ref> <workload> [pairs]
#
# Each pair runs `perfbench/run.py --workload <workload> --seed S` once
# per side on the same seed, for BENCHMARK.json's run_seconds. Pairs use
# distinct seeds, perfbench's held-out seed followed by 1, 2, ..., and
# alternate which side runs first. One JSON line per run is appended to
# $OUT (default .ab/<workload>.jsonl); summarize it with
# `python scripts/ab_summarize.py $OUT`.
set -euo pipefail
if [ $# -lt 2 ]; then
  echo "usage: $0 <base-ref> <workload> [pairs]" >&2
  exit 2
fi
BASE_REF=$1
WORKLOAD=$2
PAIRS=${3:-10}
HERE=$(git rev-parse --show-toplevel)
OUT=${OUT:-$HERE/.ab/$WORKLOAD.jsonl}
RUN_SECONDS=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$HERE/BENCHMARK.json")
mkdir -p "$(dirname "$OUT")"

BASE_SHA=$(git -C "$HERE" rev-parse --verify "$BASE_REF^{commit}")
BASE_TREE=$(mktemp -d)
git -C "$HERE" worktree add --detach "$BASE_TREE" "$BASE_SHA" >/dev/null
trap 'git -C "$HERE" worktree remove --force "$BASE_TREE"; git -C "$HERE" worktree prune' EXIT

HELDOUT=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["heldout_seed"])' \
  "$HERE/perfbench/settings.json")
SEED_LIST=("$HELDOUT" $(seq 1 $((PAIRS - 1))))

run_side() {  # $1 = pair, $2 = seed, $3 = side, $4 = tree, $5 = order
  local line rc=0
  line=$(cd "$4" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$2" \
    --seconds "$RUN_SECONDS" --trace 0 2>/dev/null | tail -1) || rc=$?
  [ -n "$line" ] || line=null
  printf '{"pair": %d, "seed": %d, "side": "%s", "order": %d, "rc": %d, "base": "%s", "result": %s}\n' \
    "$1" "$2" "$3" "$5" "$rc" "$BASE_SHA" "$line" >> "$OUT"
  echo "pair $1 seed $2 $3 rc=$rc" >&2
}

for ((i = 0; i < PAIRS; i++)); do
  seed=${SEED_LIST[$i]}
  if ((i % 2 == 0)); then
    run_side "$i" "$seed" base "$BASE_TREE" 0
    run_side "$i" "$seed" change "$HERE" 1
  else
    run_side "$i" "$seed" change "$HERE" 0
    run_side "$i" "$seed" base "$BASE_TREE" 1
  fi
done
