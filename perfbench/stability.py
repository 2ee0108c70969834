#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each end-to-end
metric's median and quartile spread, the way bounds are checked: the
distance between the first and third quartile (statistics.quantiles,
n=4) as a share of the median, against the metric's bound.

Usage (from the repository root):
    python3 perfbench/stability.py [--runs 10] [--first-seed 1]
                                   [--workloads a,b] [--out file.json]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workloads:
        names = args.workloads.split(",")
    report = {}
    ok = True
    for w in names:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr)
                sys.exit(f"{w} seed {seed}: exit code {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                ok = False
            runs.append({"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"],
                         **{k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: " + json.dumps(runs[-1]), file=sys.stderr)
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r[m["name"]] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                  "spread": spread, "bound": m["bound"]}
            flag = "" if spread < m["bound"] / 3 else "  <-- above bound/3"
            print(f"{w:15s} {m['name']:18s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {m['bound']}{flag}")
        report[w] = {"runs": runs, "summary": summary}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
