#!/usr/bin/env python3
"""Small-size self-check of the benchmark.

Runs every workload of BENCHMARK.json at reduced input size, untraced and
traced, and fails unless each run exits 0, reports correct with no failed
operation, prints every end-to-end (untraced) or per-layer (traced)
metric named in BENCHMARK.json, and every per-layer metric is measured
by at least one workload.

Usage (from the repository root): python3 perfbench/selfcheck.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    measured = set()
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--size", "small"],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                problems.append(f"{w} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace {trace}: correct={res['correct']} failed={res['failed']}")
            names = [m["name"] for m in spec[key]]
            missing = [n for n in names if n not in res["metrics"]]
            if missing or set(res["metrics"]) != set(names):
                problems.append(f"{w} trace {trace}: metrics differ from BENCHMARK.json: "
                                f"missing {missing}")
            if trace == 1:
                raw = json.loads((ROOT / ".bench_build" / "perfbench" / "results" /
                                  f"{w}-seed7-trace1.json").read_text())
                measured |= set(raw["layers"])
    unmeasured = [m["name"] for m in spec["per_layer"] if m["name"] not in measured]
    if unmeasured:
        problems.append(f"per-layer metrics no workload measures: {unmeasured}")
    for p in problems:
        print(f"selfcheck: {p}", file=sys.stderr)
    print("selfcheck: " + ("FAILED" if problems else "ok"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
