#!/usr/bin/env python3
"""Interleaved A/B comparison of two graft checkouts on one workload.

    python3 perfbench/ab.py A_DIR B_DIR --workload etl_daily --seeds 1-10 [--seconds 28]

Runs `python3 perfbench/run.py` once per seed in each checkout, alternating
which side goes first (A B, B A, A B, ...), so that a change in host speed
during the runs hits both sides alike. It refuses to compare when the two
sides ran in different environments (cpus, master, shuffle partitions,
heap, JDK, Spark, Scala) or with different benchmark files. For each
end-to-end metric it prints each side's median and quartiles, the B/A
ratio of medians and the share of pairs in which B was better; then the
host calibration each side saw, before and after its runs.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

ENV_KEYS = ("nproc", "master", "shuffle_partitions", "max_heap_mb", "jdk", "spark", "scala")
SKIP = {"out", "target", "project/target", "project/project"}


def bench_id(root):
    """Hash of the checkout's benchmark files (build outputs excluded)."""
    h = hashlib.sha256()
    base = Path(root) / "perfbench"
    for p in sorted(base.rglob("*")):
        rel = p.relative_to(base).as_posix()
        if p.is_file() and not any(rel == s or rel.startswith(s + "/") for s in SKIP):
            h.update(rel.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def one_run(root, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, capture_output=True, text=True, timeout=1200)
    report = [ln.split("report ", 1)[1] for ln in p.stderr.splitlines()
              if ln.startswith("perfbench: report ")]
    if p.returncode != 0 or not report:
        raise SystemExit(f"run failed in {root} (seed {seed}, exit {p.returncode}):\n"
                         f"{p.stderr[-2000:]}")
    return json.loads((Path(root) / report[-1]).read_text())


def quartiles(v):
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return q[0], statistics.median(v), q[2]


def seeds_arg(s):
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=28)
    args = ap.parse_args()

    if bench_id(args.a) != bench_id(args.b):
        raise SystemExit("refusing: the two checkouts have different benchmark files")
    runs = {"A": [], "B": []}
    for i, seed in enumerate(args.seeds):
        sides = ("A", "B") if i % 2 == 0 else ("B", "A")
        for side in sides:
            root = args.a if side == "A" else args.b
            runs[side].append(one_run(root, args.workload, seed, args.seconds))
            print(f"seed {seed} {side} done", file=sys.stderr)

    envs = {side: {tuple((k, r["env"][k]) for k in ENV_KEYS) for r in rs}
            for side, rs in runs.items()}
    if len(envs["A"] | envs["B"]) != 1:
        raise SystemExit(f"refusing: runs were made in different environments: {envs}")

    print(f"workload {args.workload}, {len(args.seeds)} pairs, seeds {args.seeds}")
    print(f"{'metric':<12} {'A q1/median/q3':<28} {'B q1/median/q3':<28} B/A   B better")
    for metric in runs["A"][0]["metrics"]:
        a = [r["metrics"][metric] for r in runs["A"]]
        b = [r["metrics"][metric] for r in runs["B"]]
        qa, qb = quartiles(a), quartiles(b)
        wins = sum(1 for x, y in zip(a, b) if y < x)
        print(f"{metric:<12} {'/'.join(f'{x:.4g}' for x in qa):<28} "
              f"{'/'.join(f'{x:.4g}' for x in qb):<28} {qb[1] / qa[1]:.3f} "
              f"{wins}/{len(a)}")
    for side, rs in runs.items():
        for when in ("before", "after"):
            single = statistics.median(r["calibration"][when]["single_s"] for r in rs)
            multi = statistics.median(r["calibration"][when]["multi_s"] for r in rs)
            print(f"calibration {side} {when}: single-thread {single:.4f} s, "
                  f"{rs[0]['env']['nproc']}-thread {multi:.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
