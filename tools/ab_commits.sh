#!/usr/bin/env bash
# Two-tree A/B of two commits on one benchmark workload.
#
#   tools/ab_commits.sh <parent> <change> <workload> <pairs> <seed0>
#
# Exports each commit into a tree of its own (git archive, so nothing is
# registered in the repository and an interrupted run leaves no state
# behind), builds the benchmark harness in both, then runs
#
#   python3 perfbench/run.py --workload <workload> --seed <s> \
#       --seconds <run_seconds of the parent's BENCHMARK.json> --trace 0
#
# in each tree for s = seed0 .. seed0 + pairs - 1. Each pair runs both
# trees on the same seed, each in a fresh JVM, and swaps which tree runs
# first on every pair, so neither arm always has the position edge. At
# the end it prints
#
#   perfbench/compare.py <parent results> --vs <change results>
#
# The per-run result files are kept under the printed directory; the two
# trees are deleted on exit. Run from anywhere inside the repository.
set -euo pipefail

if [ $# -ne 5 ]; then
  echo "usage: $0 <parent> <change> <workload> <pairs> <seed0>" >&2
  exit 2
fi
parent=$1 change=$2 workload=$3 pairs=$4 seed0=$5

repo=$(git rev-parse --show-toplevel)
work=$(mktemp -d "${TMPDIR:-/tmp}/ab_commits.XXXXXX")
trap 'rm -rf "$work/parent" "$work/change"' EXIT

for arm in parent change; do
  rev=${!arm}
  mkdir -p "$work/$arm" "$work/results/$arm"
  git -C "$repo" archive "$(git -C "$repo" rev-parse --verify "$rev^{commit}")" \
    | tar -x -C "$work/$arm"
  echo "[ab] $arm = $(git -C "$repo" rev-parse --short "$rev"): building the harness" >&2
  (cd "$work/$arm" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.classpath()')
done
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$work/parent/BENCHMARK.json")

run_arm() {  # run_arm <arm> <seed>
  (cd "$work/$1" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace 0) >&2
  mv "$work/$1"/perfbench/.work/results/*.json "$work/results/$1/"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for arm in $order; do
    echo "[ab] pair $((i + 1))/$pairs seed $seed: $arm" >&2
    run_arm "$arm" "$seed"
  done
done

echo "[ab] results: $work/results/{parent,change}" >&2
python3 "$work/parent/perfbench/compare.py" "$work/results/parent" --vs "$work/results/change"
