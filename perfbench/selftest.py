#!/usr/bin/env python3
"""Self-test of the benchmark on the small sf0.001 tables.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all):
  1. an untraced and a traced run must pass their checks, exit 0, and
     print every metric BENCHMARK.json names for that mode with the unit
     given there, and no other metric;
  2. a run against a deliberately wrong expectation (one expected value
     off by one) must count failed ops, print `"correct": false`, report
     a non-zero `ops.failed_ratio` when traced, and exit non-zero.
Exits 0 when every step held.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = "sf0.001"
SECONDS = "2"


def bench(workload, trace, expect=None, seed=7):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", SECONDS, "--trace", str(trace), "--data", DATA]
    if expect:
        cmd += ["--expect", str(expect)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    line = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, line, p.stderr


def wrong_expectation(workload, tmp):
    """A copy of the sf0.001 expectations with one value this workload
    checks moved by one."""
    exp = json.loads((HERE / "expected" / f"{DATA}.json").read_text())
    if workload == "etl_daily":
        exp["etl"]["etl_run"]["invoices"] += 1
    else:
        sys.path.insert(0, str(HERE))
        import run
        exp["queries"][run.QUERIES[workload][0]]["rows"] += 1
    path = Path(tmp) / "wrong.json"
    path.write_text(json.dumps(exp))
    return path


def main(argv):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    modes = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
             1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    workloads = argv or [w["name"] for w in spec["workloads"]]
    problems = []
    for w in workloads:
        for trace, want in modes.items():
            rc, line, err = bench(w, trace)
            tag = f"{w} trace={trace}"
            if rc != 0 or not line or not line["correct"]:
                problems.append(f"{tag}: exit {rc}, line {line}, stderr tail {err[-800:]}")
                continue
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            print(f"ok   {tag}: {len(got)} metrics, {line['attempted']} ops checked")
        with tempfile.TemporaryDirectory() as tmp:
            rc, line, _ = bench(w, 1, expect=wrong_expectation(w, tmp))
            tag = f"{w} wrong expectation"
            ratio = line and line["metrics"]["ops.failed_ratio"]["value"]
            if rc == 0 or not line or line["correct"] or not line["failed"] or not ratio:
                problems.append(f"{tag}: exit {rc}, line {line}: the failure was not reported")
            else:
                print(f"ok   {tag}: exit {rc}, {line['failed']} of {line['attempted']} ops failed")
    for p in problems:
        print(f"FAIL {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
