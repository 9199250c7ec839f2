#!/usr/bin/env bash
# Interleaved A/B runs of the benchmark: parent against change.
#
# Usage: perfbench/ab.sh <parent-rev> <change-rev> [pairs=10] [workload ...]
#
# Checks out both revisions as git worktrees under .bench_build/ab/,
# copies this checkout's benchmark (perfbench/ and BENCHMARK.json) into
# both so the two sides run identical benchmark code, then runs `pairs`
# pairs per workload. Pair i uses seed 1000+i on both sides and swaps
# which side runs first on every other pair. Prints one row per workload
# and end-to-end metric: each side's median and quartiles, and the share
# of pairs the change wins (ties count for neither). Raw results go to
# .bench_build/ab/<parent>-<change>.jsonl.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
parent="${1:?parent revision}"; change="${2:?change revision}"
pairs="${3:-10}"; shift $(( $# < 3 ? $# : 3 ))
workloads=("$@")
if [ ${#workloads[@]} -eq 0 ]; then
  mapfile -t workloads < <(python3 -c 'import json,sys; [print(w["name"]) for w in json.load(open(sys.argv[1]))["workloads"]]' "$root/BENCHMARK.json")
fi
seconds="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$root/BENCHMARK.json")"

ab="$root/.bench_build/ab"
mkdir -p "$ab"
declare -A tree=([A]="$ab/parent" [B]="$ab/change")
declare -A rev=([A]="$parent" [B]="$change")
cleanup() {
  for side in A B; do git -C "$root" worktree remove --force "${tree[$side]}" 2>/dev/null || true; done
}
trap cleanup EXIT
for side in A B; do
  git -C "$root" worktree remove --force "${tree[$side]}" 2>/dev/null || true
  git -C "$root" worktree add --detach "${tree[$side]}" "${rev[$side]}" >/dev/null
  rm -rf "${tree[$side]}/perfbench"
  cp -r "$root/perfbench" "$root/BENCHMARK.json" "${tree[$side]}/"
done
out="$ab/$(git -C "$root" rev-parse --short "$parent")-$(git -C "$root" rev-parse --short "$change").jsonl"
: > "$out"

for ((i = 0; i < pairs; i++)); do
  order=(A B); (( i % 2 )) && order=(B A)
  for w in "${workloads[@]}"; do
    for side in "${order[@]}"; do
      line="$(cd "${tree[$side]}" && python3 perfbench/run.py --workload "$w" \
        --seed $((1000 + i)) --seconds "$seconds" --trace 0 | tail -n 1)"
      printf '{"pair": %d, "side": "%s", "workload": "%s", "result": %s}\n' \
        "$i" "$side" "$w" "$line" >> "$out"
      echo "pair $i $w $side done" >&2
    done
  done
done

python3 - "$out" "$root/BENCHMARK.json" <<'EOF'
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
better = {m["name"]: m["better"] for m in json.load(open(sys.argv[2]))["end_to_end"]}
print(f"{'workload':16s} {'metric':16s} {'parent median [q1,q3]':>32s} "
      f"{'change median [q1,q3]':>32s} {'change wins':>11s}")
for w in sorted({r["workload"] for r in rows}):
    for m, direction in better.items():
        side = {s: {r["pair"]: r["result"]["metrics"][m]["value"] for r in rows
                    if r["workload"] == w and r["side"] == s} for s in "AB"}
        pairs = sorted(set(side["A"]) & set(side["B"]))
        wins = sum((side["B"][p] < side["A"][p]) if direction == "lower"
                   else (side["B"][p] > side["A"][p]) for p in pairs)
        def q(v):
            v = list(v)
            if len(v) < 2:
                return f"{v[0]:.4g} [-,-]" if v else "-"
            q1, q2, q3 = statistics.quantiles(v, n=4)
            return f"{statistics.median(v):.4g} [{q1:.4g},{q3:.4g}]"
        print(f"{w:16s} {m:16s} {q(side['A'].values()):>32s} "
              f"{q(side['B'].values()):>32s} {wins:>5d}/{len(pairs):<5d}")
EOF
