#!/usr/bin/env bash
# Fork census: run one perfbench workload once under a JFR recording of
# process starts, then count the child processes the JVM launched, by
# command and by the innermost graft frame (else Spark frame) that
# launched them.
#
# Usage: tools/fork_census.sh <workload> <seed>
#
# JFR is switched on through JAVA_TOOL_OPTIONS, so the benchmark itself
# runs unchanged (same flags, same timing code). The recording keeps only
# the jdk.ProcessStart event, with stack traces. Every JVM the run starts
# (a first-use build included) writes its own recording into a temporary
# directory; the census sums them all. The workload's own JSON result line
# is printed first.
set -euo pipefail
usage="usage: tools/fork_census.sh <workload> <seed>"
workload=${1:?$usage}
seed=${2:?$usage}
root=$(cd "$(dirname "$0")/.." && pwd)
seconds=$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$root/BENCHMARK.json")

tmp=$(mktemp -d "${TMPDIR:-/tmp}/fork_census.XXXXXX")
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/rec"
cat >"$tmp/forks.jfc" <<'EOF'
<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="forks">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
</configuration>
EOF

JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-XX:FlightRecorderOptions=stackdepth=128 -XX:StartFlightRecording=settings=$tmp/forks.jfc,filename=$tmp/rec/,dumponexit=true" \
  python3 "$root/perfbench/run.py" --workload "$workload" --seed "$seed" \
  --seconds "$seconds" --trace 0 | tail -1

for f in "$tmp"/rec/*.jfr; do
  [ -e "$f" ] || { echo "fork_census: no recording written" >&2; exit 1; }
  jfr print --json --stack-depth 128 --events jdk.ProcessStart "$f" >"$f.json"
done

python3 - "$tmp"/rec/*.jfr.json <<'EOF'
import collections, json, sys

by_cmd, by_site, pairs = collections.Counter(), collections.Counter(), collections.Counter()
total = 0
for path in sys.argv[1:]:
    for e in json.load(open(path))["recording"]["events"]:
        v = e["values"]
        cmd = (v.get("command") or "?").split()[0].rsplit("/", 1)[-1]
        frames = ((v.get("stackTrace") or {}).get("frames")) or []
        # innermost graft frame, else innermost Spark frame; lambda
        # frames name no call site, so they are skipped
        named = [(fr["method"]["type"]["name"].replace("/", "."), fr) for fr in frames
                 if "$$Lambda" not in fr["method"]["type"]["name"]]
        site = "(no graft or Spark frame)"
        for prefix in ("graft.", "org.apache.spark."):
            hit = next((f for c, f in named if c.startswith(prefix)), None)
            if hit:
                site = (f'{hit["method"]["type"]["name"].replace("/", ".")}.'
                        f'{hit["method"]["name"]}:{hit.get("lineNumber", "?")}')
                break
        total += 1
        by_cmd[cmd] += 1
        by_site[site] += 1
        pairs[(cmd, site)] += 1

print(f"process launches: {total}")
print("by command:")
for k, n in by_cmd.most_common():
    print(f"  {n:6d}  {k}")
print("by innermost graft (else Spark) call site:")
for k, n in by_site.most_common():
    print(f"  {n:6d}  {k}")
print("by command and call site:")
for (c, s), n in pairs.most_common():
    print(f"  {n:6d}  {c:10s} {s}")
EOF
