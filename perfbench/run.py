#!/usr/bin/env python3
"""Runs one benchmark run of the graft dedup library.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source on first use
(perfbench/build.sh), then runs graft.perfbench.Main in one JVM. The last
line of stdout is the result object {"correct", "attempted", "failed",
"metrics"}; any failure exits non-zero without printing a result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("crawl_dedup", "template_family", "stream_ingest")
RUN_LIMIT_S = 175  # a run must end within 180 s, build excluded
# ParallelGC with a fixed young generation: the resident set then follows
# the data promoted to the old generation rather than G1's adaptive sizing,
# which made peak_rss_mb vary by ~25% between identical runs.
JVM_GC = ["-XX:+UseParallelGC", "-Xmn768m", "-XX:-UseAdaptiveSizePolicy"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        sys.exit("SPARK_HOME is not set and spark-submit is not on PATH")
    return Path(submit).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="1", help="corpus scale (self-test only)")
    a = ap.parse_args()

    build = subprocess.run(["bash", "perfbench/build.sh"], cwd=ROOT)
    if build.returncode != 0:
        sys.exit("build failed")

    work = ROOT / ".bench_build"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    spark_jars = spark_home() / "jars"
    cmd = (["java", "-Xmx3g", "-Xss16m"] + JVM_GC + [
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{work / 'classes'}:{spark_jars}/*", "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--scale", a.scale, "--work", str(work / "work")])
    t0 = time.monotonic()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_LIMIT_S} s")
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(proc.stdout)
        sys.exit(f"run failed (exit {proc.returncode}) after {time.monotonic() - t0:.1f} s")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
