#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 28 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(graft's main sources plus `perfbench/src`) with sbt; later runs reuse the
build until a source changes. Each run starts one JVM with `local[N]` and
N shuffle partitions (N = the cpus this process may use) and one
closed-loop client, sets up, runs untimed warm-up passes, then timed
passes for `--seconds`.

Workloads (inputs: the committed tables under `perfbench/data/<sf>`, plus
what `--seed` generates; see perfbench/README.md):
  etl_daily        one pass = `Pipeline.run` clean, `Pipeline.run` strict
                   (must abort with UnverifiedChargesException),
                   `AttachmentFlow.run` over a seeded month of `DD dd.xls`
                   files against an in-process REST fake, then the day's
                   drop-dir feeds (`QUERIES`) in a seeded order.
  analyst_session  set-up builds the shared stages of `graft.Bench` the
                   queries read; one pass = one dedup_, txt_, sim_ and
                   graph_ query each (`QUERIES`) in a seeded order.

Every op's output is checked against `perfbench/expected/<sf>.json`. The
last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
The exit code is 0 when every check passed, 1 when one failed, 2 when the
run could not be made. A full report (per-op-type medians and tails,
environment, host calibration, checks; spans and self time per layer when
traced) goes to `perfbench/out/results/<run id>.json`.
"""
import argparse
import calendar
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
WORKLOADS = ("etl_daily", "analyst_session")
RUN_LIMIT_S = 170  # a run, build excluded, must end well within 180 s
BUILD_LIMIT_S = 700
HEAP = "3g"  # fixed from the start: a growing heap made runs fall into a fast and a slow group

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "tables.charge_s": "s",
    "pipeline.verify_s": "s",
    "docs.txn_docs_s": "s",
    "docs.dd_invoices_s": "s",
    "sinks.push_s": "s",
    "sinks.json_log_s": "s",
    "guards.abort_s": "s",
    "attach.fetches": "count",
    "attach.files": "count",
    "caches.build_s": "s",
    "caches.storage_mb": "MB",
    "caches.scan_hits": "count",
    "caches.hit_ratio": "ratio",
    "family.dedup_s": "s",
    "family.txt_s": "s",
    "family.sim_s": "s",
    "family.graph_s": "s",
    "query.build_s": "s",
    "query.exec_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "plan.codegen_compiles": "count",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_mb": "MB",
    "stream.state_stores": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_cpu_util": "ratio",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "ops.failed_ratio": "ratio",
    "trace.overhead_pct": "%",
}
# The fixed op lists of the query workloads (see perfbench/README.md for
# how they were chosen); the pass order is drawn from the seed.
QUERIES = {
    "etl_daily": ("stream_join_feed", "stream_srm_feed"),
    "analyst_session": (
        "dedup_simhash_pairs", "graph_triangles", "sim_hash_embed_topk", "txt_rouge2"),
}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    """The run could not be made (no checkout, build failed, JVM died)."""


# ---------------------------------------------------------------- build

def source_files():
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    files = []
    for r in roots:
        if r.is_file():
            files.append(r)
        elif r.is_dir():
            files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def code_id():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile the harness unless the sources are unchanged since the last
    build. Returns the code id and the seconds spent building."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise RunError(f"no graft sources under {ROOT}; run from a checkout")
    cid = code_id()
    classes = HERE / "target" / "scala-2.13" / "classes"
    stamp = HERE / "target" / "perfbench.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == cid:
        return cid, 0.0
    if shutil.which("sbt") is None:
        raise RunError("sbt is not on PATH")
    t0 = time.monotonic()
    log = OUT / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as f:
        rc = supervised(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                        HERE, f, BUILD_LIMIT_S, env)
    if rc != 0:
        raise RunError(f"build failed (exit {rc}); see {log}")
    stamp.write_text(cid)
    return cid, time.monotonic() - t0


def supervised(cmd, cwd, logf, limit_s, env=None):
    """Run `cmd` in its own process group; kill the group past `limit_s`.
    Returns the exit code and waits until the process has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the directory the
    repository's own build.sbt takes its Spark jars from."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    build_sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  build_sbt.read_text() if build_sbt.is_file() else "")
    if not m:
        raise RunError("SPARK_HOME is not set and build.sbt names no Spark jar directory")
    return Path(m.group(1))


def cpu_jiffies():
    """(steal, total) jiffies of all cpus, or None where /proc/stat is
    missing. Steal is time the host ran other guests on our cpus."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs

def attach_inputs(seed, work):
    """A seeded month of `DD dd.xls` files: which days, their bytes, and
    which sit in a nested directory. Returns (dir, YYYY-MM, file count)."""
    rng = random.Random(f"attach/{seed}")
    year, month = rng.choice((2023, 2024, 2025)), rng.randint(1, 12)
    ndays = calendar.monthrange(year, month)[1]
    days = sorted(rng.sample(range(1, ndays + 1), rng.randint(ndays - 10, ndays)))
    top = work / "attach"
    for day in days:
        d = top / "late" if rng.random() < 0.25 else top
        d.mkdir(parents=True, exist_ok=True)
        (d / f"DD {day:02d}.xls").write_bytes(rng.randbytes(rng.randint(4096, 65536)))
    (top / "notes.txt").write_bytes(b"not an attachment")
    return top, f"{year}-{month:02d}", len(days)


def pass_orders(seed, names, n=32):
    rng = random.Random(f"order/{seed}")
    return [rng.sample(names, len(names)) for _ in range(n)]


# ---------------------------------------------------------------- checks

# What an op record carries besides its outputs.
OP_MEASURES = {"pass", "traced", "name", "layer", "probe", "start_s", "seconds",
               "build_s", "exec_s", "log_bytes", "counters"}


def check_op(op, exp, n_attach):
    """Why `op`'s output is wrong, or None when it is right."""
    name = op["name"]
    if op.get("error"):
        return f"{name}: {op['error']}"
    if name in exp["queries"]:
        want = exp["queries"][name]
        got = {"rows": op.get("rows"), "digest": op.get("digest")}
        return None if got == want else f"{name}: got {got}, expected {want}"
    if name == "attach_run":
        want = {"files": n_attach, "uploads": n_attach, "posted": n_attach,
                "rejected": 0, "fetches": 1}
    elif name in exp["etl"]:
        want = exp["etl"][name]
    else:
        return f"{name}: no expectation"
    bad = {k: op.get(k) for k, v in want.items() if op.get(k) != v}
    return f"{name}: got {bad}, expected {want}" if bad else None


def record_expectations(path, ops):
    """Merge the outputs of a clean run into the expectations file."""
    exp = json.loads(path.read_text()) if path.exists() else {"queries": {}, "etl": {}}
    errors = [o for o in ops if o.get("error")]
    if errors:
        raise RunError(f"cannot record: {len(errors)} op(s) failed, first: {errors[0]}")
    for o in ops:
        if o["name"] == "attach_run":  # checked against the generated inputs
            continue
        section = "queries" if "digest" in o else "etl"
        got = {k: v for k, v in o.items() if k not in OP_MEASURES}
        prev = exp[section].setdefault(o["name"], got)
        if prev != got:
            raise RunError(f"{o['name']} differs between passes: {prev} vs {got}")
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")


# ---------------------------------------------------------------- metrics

def tail(values):
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), as (percentile, value); None with too few samples."""
    s = sorted(values)
    n = len(s)
    for pct in range(99, 49, -1):
        if n * (100 - pct) / 100 >= 10:
            return pct, s[min(n - 1, max(0, -(-pct * n // 100) - 1))]
    return None


def summary(values):
    t = tail(values)
    return {"n": len(values), "p50_s": statistics.median(values) if values else None,
            "tail_pct": t[0] if t else None, "tail_s": t[1] if t else None}


def pass_sums(ops):
    sums = {}
    for o in ops:
        sums[o["pass"]] = sums.get(o["pass"], 0.0) + o["seconds"]
    return sums


def end_to_end(res, timed):
    per_name = {}
    for o in timed:
        per_name.setdefault(o["name"], []).append(o["seconds"])
    return {
        "setup_s": res["setup"]["total_s"],
        "pass_s": statistics.median(pass_sums(timed).values()),
        "op_geomean_s": statistics.geometric_mean(
            statistics.median(v) for v in per_name.values()),
    }


def self_times(spans, since_ns):
    """Seconds each span name spent outside its child spans, over the
    spans that start at or after `since_ns`."""
    child = {}
    for sid, parent, name, start, end in spans:
        child[parent] = child.get(parent, 0) + (end - start)
    out = {}
    for sid, parent, name, start, end in spans:
        if start >= since_ns:
            out[name] = out.get(name, 0.0) + (end - start - child.get(sid, 0)) / 1e9
    return out


def per_layer(res, ops, cpus, failed_ratio):
    passes = [p for p in res["passes"] if p["traced"]]
    ref = [p for p in res["passes"] if not p["traced"]]
    traced_ops = [o for o in ops if o["traced"] and o["pass"] >= 0]
    timed = [o for o in traced_ops if not o["probe"]]
    n = len(passes)

    def counter(k):
        return sum(o["counters"].get(k, 0.0) for o in timed) / n

    def op_sum(pred):
        return sum(o["seconds"] for o in traced_ops if pred(o)) / n

    def field_mean(name, key):
        v = [o.get(key, 0) for o in traced_ops if o["name"] == name]
        return sum(v) / len(v) if v else 0.0

    busy = sum(o["seconds"] for o in timed)
    actions = counter("plan.actions")
    scans = counter("caches.scan_hits") + counter("caches.other_cached_scans") + \
        counter("caches.source_scans")
    traced_pass = statistics.median(pass_sums(timed).values())
    ref_pass = statistics.median(pass_sums(
        [o for o in ops if o["pass"] >= 0 and not o["traced"]]).values()) if ref else None
    m = {
        "caches.build_s": res["setup"]["caches_build_s"],
        "caches.storage_mb": res["storage_mb"],
        "caches.scan_hits": counter("caches.scan_hits"),
        "caches.hit_ratio": counter("caches.scan_hits") / scans if scans else 0.0,
        "query.build_s": sum(o.get("build_s", 0.0) for o in traced_ops) / n,
        "query.exec_s": sum(o.get("exec_s", 0.0) for o in traced_ops) / n,
        "attach.fetches": field_mean("attach_run", "fetches"),
        "attach.files": field_mean("attach_run", "files"),
        "spark.jobs": counter("spark.jobs"),
        "spark.stages": counter("spark.stages"),
        "spark.tasks": counter("spark.tasks"),
        "spark.shuffle_read_mb": counter("spark.shuffle_read_bytes") / 2**20,
        "spark.shuffle_write_mb": counter("spark.shuffle_write_bytes") / 2**20,
        "spark.spill_mb": counter("spark.spill_bytes") / 2**20,
        "spark.executor_cpu_util": counter("spark.cpu_ns") * n / 1e9 / (busy * cpus),
        "jvm.gc_s": counter("jvm.gc_ms") / 1e3,
        "jvm.jit_s": sum(p["jit_s"] for p in passes) / n,
        "plan.codegen_compiles": sum(p["codegen_compiles"] for p in passes) / n,
        "stream.batches": counter("stream.batches"),
        "stream.trigger_ms": counter("stream.trigger_ms"),
        "stream.add_batch_ms": counter("stream.add_batch_ms"),
        "stream.commit_ms": counter("stream.commit_ms"),
        "stream.state_rows": counter("stream.state_rows"),
        "stream.state_mem_mb": counter("stream.state_bytes") / 2**20,
        "stream.state_stores": counter("stream.state_stores"),
        "ops.failed_ratio": failed_ratio,
        "trace.overhead_pct": 100.0 * (traced_pass / ref_pass - 1.0) if ref_pass else 0.0,
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_ms"] = counter(f"plan.{phase}_ms") / actions if actions else 0.0
    for fam in ("dedup", "txt", "sim", "graph"):
        m[f"family.{fam}_s"] = op_sum(lambda o, f=fam: o["layer"] == f"family.{f}")
    for layer in ("tables.charge", "pipeline.verify", "docs.txn_docs", "docs.dd_invoices",
                  "sinks.push", "sinks.json_log", "guards.abort"):
        m[f"{layer}_s"] = op_sum(lambda o, la=layer: o["layer"] == la)
    return m


# ---------------------------------------------------------------- run

def run(args):
    t_start = time.monotonic()
    cid, build_s = build()
    if args.workload not in WORKLOADS:
        raise RunError(f"unknown workload {args.workload}; one of {WORKLOADS}")
    data = HERE / "data" / args.data
    if not data.is_dir():
        raise RunError(f"no data directory {data}")
    exp_path = Path(args.expect) if args.expect else HERE / "expected" / f"{args.data}.json"
    exp = None
    if not args.record:
        if not exp_path.is_file():
            raise RunError(f"no expectations {exp_path}")
        exp = json.loads(exp_path.read_text())

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    work = OUT / "work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        attach_dir, month, n_attach = attach_inputs(args.seed, work)
        names = list(QUERIES[args.workload])
        cpus = len(os.sched_getaffinity(0))
        plan = {
            "run_id": run_id, "workload": args.workload, "data": str(data),
            "work": str(work), "result": str(work / "result.json"),
            "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
            "orders": pass_orders(args.seed, names),
            "attach_dir": str(attach_dir), "attach_month": month,
        }
        (work / "plan.json").write_text(json.dumps(plan))
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cp = os.pathsep.join([str(HERE / "target" / "scala-2.13" / "classes"),
                              str(spark_jars() / "*")])
        cmd = [java] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main", str(work / "plan.json")]
        limit = RUN_LIMIT_S - (time.monotonic() - t_start - build_s)
        j0 = cpu_jiffies()
        with open(work / "jvm.log", "w") as logf:
            rc = supervised(cmd, work, logf, limit)
        j1 = cpu_jiffies()
        steal_pct = 100.0 * (j1[0] - j0[0]) / max(1, j1[1] - j0[1]) if j0 and j1 else None
        result = work / "result.json"
        if rc != 0 or not result.is_file():
            keep = OUT / "logs" / f"{run_id}.log"
            keep.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "jvm.log", keep)
            raise RunError(f"harness JVM exited {rc}; log kept at {keep}")
        res = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if res.get("fatal"):
        raise RunError(f"harness failed: {res['fatal']}")
    ops = res["ops"]
    if args.record:
        record_expectations(exp_path, ops)
        print(f"recorded {len(ops)} op outputs into {exp_path}", file=sys.stderr)
        return 0

    failures = [f for f in (check_op(o, exp, n_attach) for o in ops) if f]
    untraced = [o for o in ops if o["pass"] >= 0 and not o["traced"] and not o["probe"]]
    if args.trace:
        metrics = per_layer(res, ops, cpus, len(failures) / len(ops))
        units = PER_LAYER
    else:
        metrics = end_to_end(res, untraced)
        units = END_TO_END

    by_name = {}
    for o in untraced:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    report = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "data": args.data,
        "code_id": cid, "git_commit": git_commit(), "env": res["env"],
        "calibration": {"before": res["calibration_before"],
                        "after": res["calibration_after"], "steal_pct": steal_pct},
        "setup": res["setup"], "build_s": build_s,
        "metrics": metrics, "ops_attempted": len(ops), "failures": failures,
        "passes": res["passes"],
        "ops": {k: summary(v) for k, v in sorted(by_name.items())},
    }
    if args.trace:
        per_op = {}
        for o in ops:
            if o["traced"] and o["pass"] >= 0:
                acc = per_op.setdefault(o["name"], {"n": 0, "seconds": 0.0})
                acc["n"] += 1
                for k, v in [("seconds", o["seconds"])] + list(o["counters"].items()):
                    acc[k] = acc.get(k, 0.0) + v
        report["op_profiles"] = {name: {k: (v / acc["n"] if k != "n" else v)
                                        for k, v in acc.items()}
                                 for name, acc in sorted(per_op.items())}
        first = min(o["start_s"] for o in ops if o["traced"])
        report["self_time_s"] = self_times(res["spans"], first * 1e9)
        spans = OUT / "traces" / f"{run_id}.spans.json"
        spans.parent.mkdir(parents=True, exist_ok=True)
        spans.write_text(json.dumps({"run_id": run_id, "fields": [
            "id", "parent", "name", "start_ns", "end_ns"], "spans": res["spans"]}))
        report["spans_file"] = str(spans.relative_to(ROOT))
    rpath = OUT / "results" / f"{run_id}.json"
    rpath.parent.mkdir(parents=True, exist_ok=True)
    rpath.write_text(json.dumps(report, indent=1) + "\n")
    print(f"perfbench: report {rpath.relative_to(ROOT)}", file=sys.stderr)
    for f in failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    line = {"correct": not failures, "attempted": len(ops), "failed": len(failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(line))
    return 0 if not failures else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default="sf0.01", help="directory under perfbench/data")
    ap.add_argument("--expect", help="expectations file (default: expected/<data>.json)")
    ap.add_argument("--record", action="store_true",
                    help="write this run's outputs as the expectations instead of checking")
    args = ap.parse_args(argv)
    try:
        return run(args)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
