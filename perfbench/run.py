#!/usr/bin/env python3
"""IDA pipeline benchmark: one command, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload etl_paper --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
`perfbench.Main` in a JVM with build.sbt's flags, prints every metric with
its unit, and ends with one JSON line: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json with `--trace 0`, its
per-layer metrics with `--trace 1`). Exits non-zero when the build fails,
the JVM fails, or any op's output is wrong.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

import build

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
DIGESTS = HERE / "digests.json"
JVM_TIMEOUT_S = 175

# build.sbt's javaOptions: the JDK 17 module opens Spark needs outside
# spark-submit, UI off, UTC, the driver heap, and a 2 GB code cache.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_flags(work):
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return flags + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
        "-XX:ReservedCodeCacheSize=2g",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
    ]


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"[perfbench] build failed: {e}")
    want = expected_metrics(a.trace)

    work = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *jvm_flags(work), "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--digests", str(DIGESTS)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"[perfbench] JVM exceeded {JVM_TIMEOUT_S} s and was killed")
        result_file = work / "result.json"
        if not result_file.exists():
            sys.exit(f"[perfbench] JVM exited with {code} and no result")
        result = json.loads(result_file.read_text())
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    def show(name, value, unit, note=""):
        v = "n/a" if value is None else f"{value:.6g}"
        print(f"{name:<40} {v:>14} {unit:<6} {note}")

    for f in result["failures"]:
        print(f"FAILED: {f}")
    for r in result["report"]:
        show(r["name"], r["value"], r["unit"], r["note"])
    metrics = result["metrics"]
    for name, m in metrics.items():
        show(name, m["value"], m["unit"])
    missing = sorted(set(want) - set(metrics))
    if missing:
        result["correct"] = False
        print(f"FAILED: metrics missing from the run: {missing}")
    out = {"correct": result["correct"] and code == 0,
           "attempted": result["attempted"], "failed": result["failed"],
           "metrics": {k: metrics[k] for k in want if k in metrics}}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
