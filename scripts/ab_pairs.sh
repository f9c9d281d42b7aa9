#!/usr/bin/env bash
# Alternating A/B run pairs of the benchmark: a parent commit against the
# working tree.
#
#   scripts/ab_pairs.sh [-n PAIRS] [-w WORKLOAD] [-s SEED] [-t SECONDS] [-m METRIC] [-p REV]
#
# Defaults: 10 pairs of kg_batch, seed 11, 8 measured seconds per run,
# metric wall_s, parent HEAD~1.  The committed tree of REV is extracted
# (git archive) into a scratch directory; `python3 kgbench/run.py` then runs
# there and in the working tree, the side that goes first alternating from
# pair to pair.  Prints one line per pair, each side's median and quartiles
# of METRIC over its correct runs, and how many pairs the change won, in the
# metric's `better` direction from BENCHMARK.json.  AB_WORK names the
# scratch directory (kept, with each side's stderr log and results.jsonl);
# without it a temporary one is used and removed at exit.
set -euo pipefail

pairs=10 workload=kg_batch seed=11 seconds=8 metric=wall_s rev=HEAD~1
while getopts "n:w:s:t:m:p:" opt; do
  case $opt in
    n) pairs=$OPTARG ;;
    w) workload=$OPTARG ;;
    s) seed=$OPTARG ;;
    t) seconds=$OPTARG ;;
    m) metric=$OPTARG ;;
    p) rev=$OPTARG ;;
    *) sed -n '5,6p' "$0"; exit 2 ;;
  esac
done

root=$(git rev-parse --show-toplevel)
if [[ -n ${AB_WORK:-} ]]; then
  work=$AB_WORK
  mkdir -p "$work"
  trap 'rm -rf "$work/parent"' EXIT
else
  work=$(mktemp -d)
  trap 'rm -rf "$work"' EXIT
fi
parent=$work/parent
rm -rf "$parent"
mkdir -p "$parent"
git -C "$root" archive "$rev" | tar -x -C "$parent"
results=$work/results.jsonl
: > "$results"
echo "parent $(git -C "$root" rev-parse --short "$rev") vs working tree: $pairs pairs" \
  "of $workload, seed $seed, $seconds s, metric $metric" >&2

run() {  # side directory pair
  local line
  line=$(cd "$2" && python3 kgbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" --trace 0 2>>"$work/$1.log" | tail -n 1) || true
  printf '{"side": "%s", "pair": %d, "result": %s}\n' "$1" "$3" "${line:-null}" >> "$results"
  echo "pair $3 $1 done" >&2
}

for ((i = 1; i <= pairs; i++)); do
  if ((i % 2)); then
    run parent "$parent" "$i"
    run change "$root" "$i"
  else
    run change "$root" "$i"
    run parent "$parent" "$i"
  fi
done

python3 - "$results" "$metric" "$root/BENCHMARK.json" <<'EOF'
import json
import statistics
import sys

path, metric, bench = sys.argv[1:4]
better = next((m["better"] for m in json.load(open(bench))["end_to_end"]
               if m["name"] == metric), "lower")
runs: dict[int, dict[str, float | None]] = {}
for line in open(path):
    r = json.loads(line)
    res = r["result"] or {}
    value = res.get("metrics", {}).get(metric, {}).get("value")
    runs.setdefault(r["pair"], {})[r["side"]] = value if res.get("correct") else None


def fmt(v):
    return f"{v:10.3f}" if v is not None else f"{'failed':>10}"


print(f"{'pair':>4}  {'parent':>10}  {'change':>10}  winner")
wins = 0
sides: dict[str, list[float]] = {"parent": [], "change": []}
for i in sorted(runs):
    p, c = runs[i].get("parent"), runs[i].get("change")
    won = p is not None and c is not None and (c < p if better == "lower" else c > p)
    wins += won
    for side, v in (("parent", p), ("change", c)):
        if v is not None:
            sides[side].append(v)
    print(f"{i:>4}  {fmt(p)}  {fmt(c)}  {'change' if won else 'parent'}")
stats = {}
for side, xs in sides.items():
    if not xs:
        print(f"{side}: no correct run")
        continue
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    stats[side] = (statistics.median(xs), q1, q3)
    print(f"{side}: median {stats[side][0]:.3f}  q1 {q1:.3f}  q3 {q3:.3f}  "
          f"({len(xs)} correct runs)")
print(f"change won {wins} of {len(runs)} pairs on {metric} ({better} is better)")
if len(stats) == 2:
    gap = abs(stats["change"][0] - stats["parent"][0])
    spread = stats["parent"][2] - stats["parent"][1]
    print(f"median gap {gap:.3f} vs parent quartile spread {spread:.3f}")
EOF
