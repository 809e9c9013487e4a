#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark: runs every workload run.py knows
with --trace 0 and --trace 1 at a small corpus scale and checks that each run
passes its correctness checks and prints every metric BENCHMARK.json names,
with its unit.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for workload in WORKLOADS:
        for trace, names in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            cmd = spec["command"] + ["--workload", workload, "--seed", "1",
                                     "--seconds", "1", "--trace", trace, "--scale", "0.05"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            tag = f"{workload} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or wrong: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in names}
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            print(f"{tag}: ok" if not any(p.startswith(tag) for p in problems) else f"{tag}: FAIL")
    for p in problems:
        print(p, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
