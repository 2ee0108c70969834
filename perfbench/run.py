#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (see
build.sh), runs the workload in one JVM and prints, as the last line of
standard output, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. The JVM log goes to .bench_build/perfbench/logs/
and traced runs write their spans to .bench_build/perfbench/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the jars beside the
    first spark-submit on PATH that has them."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str((Path(d) / "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if (Path(home) / "jars").is_dir():
            return str(Path(home) / "jars")
    fail("no Spark installation found: set SPARK_HOME", 2)


def sources():
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files + [ROOT / "perfbench" / "build.sh"]


def build():
    """Compile unless the class directory matches the current sources."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "classes.stamp"
    classes = BUILD / "classes"
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
            return classes
        log = BUILD / "build.log"
        with open(log, "w") as out:
            rc = subprocess.call(["bash", "perfbench/build.sh", str(classes), spark_jars()],
                                 cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            fail("build failed")
        stamp.write_text(digest.hexdigest())
    return classes


def run_jvm(classes, args, work, log_path, result, spans):
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        str(work), str(result), str(spans), args.size,
    ]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        deadline = time.monotonic() + TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                fail(f"workload did not finish within {TIMEOUT_S} s (log: {log_path})")
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "small"], default="full",
                    help="small: reduced inputs, for the self-check only")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the repository root", 2)
    if not any((ROOT / "src" / "main" / "scala").rglob("*.scala")):
        fail("no program sources under src/main/scala: nothing to benchmark", 2)
    spec = json.loads(spec_path.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)

    classes = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    for d in ("logs", "traces"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    log_path = BUILD / "logs" / f"{tag}.log"
    result = work / "result.json"
    spans = BUILD / "traces" / f"{tag}.jsonl"
    try:
        rc, peak_rss_mb = run_jvm(classes, args, work, log_path, result, spans)
        if rc != 0 or not result.is_file():
            sys.stderr.write("".join(open(log_path).readlines()[-40:]))
            fail(f"workload exited with code {rc} (log: {log_path})")
        out = json.loads(result.read_text())
        (BUILD / "results").mkdir(exist_ok=True)
        shutil.copy(result, BUILD / "results" / f"{tag}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(out["e2e"], peak_rss_mb=peak_rss_mb)
    if args.trace == 0:
        wanted, reported = spec["end_to_end"], e2e
    else:
        # a layer the workload does not exercise reports 0
        wanted = spec["per_layer"]
        reported = {m["name"]: out["layers"].get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if m["name"] not in reported]
    if missing:
        fail(f"metrics not reported: {', '.join(missing)}")
    checks = {k: v for k, v in out["layers"].items() if k.startswith("check.")}
    print(f"perfbench: {args.workload} seed {args.seed}: attempted {out['attempted']}, "
          f"failed {out['failed']}, correctness diffs {checks}, e2e "
          f"{json.dumps({k: round(v, 4) for k, v in e2e.items()})}", file=sys.stderr)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {m["name"]: {"value": reported[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
