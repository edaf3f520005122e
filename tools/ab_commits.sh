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
# trees on the same seed, each in a fresh JVM.
#
# Neither commit keeps a position edge:
#  - the trees have neutral names, t1 and t2; the parity of seed0
#    picks which commit is exported and built first, into t1;
#  - which tree runs first swaps on every pair;
#  - the two trees swap paths (t1 <-> t2, each harness classpath
#    rewritten to match) every second pair, so over any four pairs each
#    commit runs once in each (path, position) combination. Use a
#    multiple of four pairs.
#
# At the end it prints
#
#   perfbench/compare.py <parent results> --vs <change results>
#
# (quartiles, change against the bound, host CPU steal), then which
# commit was built first (into t1) and, per end-to-end metric, in how
# many pairs the change read lower. The per-run result files are kept
# under the printed directory; the trees are deleted on exit. Run from
# anywhere inside the repository.
set -euo pipefail

if [ $# -ne 5 ]; then
  echo "usage: $0 <parent> <change> <workload> <pairs> <seed0>" >&2
  exit 2
fi
parent=$1 change=$2 workload=$3 pairs=$4 seed0=$5

repo=$(git rev-parse --show-toplevel)
work=$(mktemp -d "${TMPDIR:-/tmp}/ab_commits.XXXXXX")
trap 'rm -rf "$work/t1" "$work/t2" "$work/swap"' EXIT

declare -A tree
if ((seed0 % 2 == 0)); then tree[parent]=t1 tree[change]=t2 first=parent; else tree[change]=t1 tree[parent]=t2 first=change; fi
for t in t1 t2; do
  for arm in parent change; do
    [ "${tree[$arm]}" = "$t" ] || continue
    rev=${!arm}
    mkdir -p "$work/$t" "$work/results/$arm"
    git -C "$repo" archive "$(git -C "$repo" rev-parse --verify "$rev^{commit}")" \
      | tar -x -C "$work/$t"
    echo "[ab] $arm = $(git -C "$repo" rev-parse --short "$rev") in $t: building the harness" >&2
    (cd "$work/$t" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.classpath()')
  done
done
seconds=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$work/${tree[parent]}/BENCHMARK.json")

swap_trees() {
  mv "$work/t1" "$work/swap" && mv "$work/t2" "$work/t1" && mv "$work/swap" "$work/t2"
  for t in t1 t2; do
    sed -i "s#$work/t[12]/#$work/$t/#g" "$work/$t/perfbench/.work/classpath.txt"
  done
  local p=${tree[parent]}
  tree[parent]=${tree[change]} tree[change]=$p
}

run_arm() {  # run_arm <arm> <seed>
  local t=${tree[$1]}
  (cd "$work/$t" && python3 perfbench/run.py --workload "$workload" --seed "$2" \
    --seconds "$seconds" --trace 0) >&2
  mv "$work/$t"/perfbench/.work/results/*.json "$work/results/$1/"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i > 0 && i % 2 == 0)); then swap_trees; fi
  if ((i % 2 == 0)); then order="parent change"; else order="change parent"; fi
  for arm in $order; do
    echo "[ab] pair $((i + 1))/$pairs seed $seed: $arm in ${tree[$arm]}" >&2
    run_arm "$arm" "$seed"
  done
done

echo "[ab] results: $work/results/{parent,change}" >&2
rc=0
python3 "$work/${tree[parent]}/perfbench/compare.py" "$work/results/parent" \
  --vs "$work/results/change" || rc=$?
python3 - "$work/results" "$first = $(git -C "$repo" rev-parse --short "${!first}")" <<'EOF'
import glob, json, os, sys
runs = {}
for arm in ("parent", "change"):
    for f in glob.glob(os.path.join(sys.argv[1], arm, "*.json")):
        r = json.load(open(f))
        runs.setdefault(arm, {})[r["stamp"]["seed"]] = r["end_to_end"]
seeds = sorted(runs["parent"].keys() & runs["change"].keys())
print(f"built first (into t1): {sys.argv[2]}")
for m in ("setup_s", "pass_cpu_s", "rss_peak_mb"):
    lower = sum(runs["change"][s][m] < runs["parent"][s][m] for s in seeds)
    print(f"{m:16} change lower in {lower}/{len(seeds)} pairs")
EOF
exit $rc
