#!/usr/bin/env bash
# Paired benchmark: run one perfbench workload on a parent revision and on
# the working tree, alternating which side runs first, and summarize every
# end-to-end metric of BENCHMARK.json.
#
# Usage: tools/bench_pair.sh <workload> <first-seed> <pairs> [parent-rev]
#
#   parent-rev defaults to HEAD~1 (a committed change against its parent);
#   pass HEAD to measure uncommitted work against its base.
#
# The parent revision is exported with `git archive` into a temporary
# directory (under $TMPDIR, default /tmp) and removed on exit; each side
# builds itself from source on its first run. Pair i uses seed
# first-seed+i on both sides; even pairs run the parent first, odd pairs
# the change. Per metric it prints each side's median and quartiles, how
# many pairs the change won (by the metric's "better" direction), the
# median gain, and whether that gain exceeds the parent's q3-q1 — the
# evidence a claimed gain needs. Every run's JSON result line is echoed
# as it completes.
set -euo pipefail
usage="usage: tools/bench_pair.sh <workload> <first-seed> <pairs> [parent-rev]"
workload=${1:?$usage}
first=${2:?$usage}
pairs=${3:?$usage}
rev=${4:-HEAD~1}
root=$(cd "$(dirname "$0")/.." && pwd)
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

tmp=$(mktemp -d "${TMPDIR:-/tmp}/bench_pair.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent"
git -C "$root" archive "$rev" | tar -x -C "$tmp/parent"
results="$tmp/results.jsonl"

run_side() { # side dir seed
  local out
  out=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$seconds" --trace 0 2>"$tmp/stderr.log" | tail -1) || {
    cat "$tmp/stderr.log" >&2; echo "bench_pair: $1 seed $3 failed" >&2; exit 1; }
  echo "{\"side\":\"$1\",\"seed\":$3,\"result\":$out}" | tee -a "$results"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((first + i))
  if ((i % 2 == 0)); then
    run_side parent "$tmp/parent" "$seed"; run_side change "$root" "$seed"
  else
    run_side change "$root" "$seed"; run_side parent "$tmp/parent" "$seed"
  fi
done

python3 - "$root/BENCHMARK.json" "$results" "$workload" "$rev" <<'EOF'
import json, statistics, sys
spec = json.load(open(sys.argv[1]))
runs = [json.loads(l) for l in open(sys.argv[2])]
by = {"parent": {}, "change": {}}
for r in runs:
    by[r["side"]][r["seed"]] = r["result"]
seeds = sorted(by["parent"])
bad = [(r["side"], r["seed"]) for r in runs
       if not r["result"]["correct"] or r["result"]["failed"]]
print(f"{sys.argv[3]}: {len(seeds)} pairs, parent {sys.argv[4]} vs working tree; "
      f"incorrect or failed runs: {bad or 'none'}")
print(f"{'metric':18s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
      f" {'wins':>6s} {'gain':>8s}  gain > parent q3-q1")
for m in spec["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    p = [by["parent"][s]["metrics"][name]["value"] for s in seeds]
    c = [by["change"][s]["metrics"][name]["value"] for s in seeds]
    def q(v):
        return statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    (p1, pm, p3), (c1, cm, c3) = q(p), q(c)
    wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
    gain = (pm - cm) if lower else (cm - pm)
    pct = 100.0 * gain / pm if pm else float("nan")
    print(f"{name:18s} {pm:12.4f} [{p1:.4f}, {p3:.4f}] {cm:12.4f} [{c1:.4f}, {c3:.4f}]"
          f" {wins:3d}/{len(seeds):<2d} {pct:+7.1f}%  {'yes' if gain > p3 - p1 else 'no'}")
EOF
