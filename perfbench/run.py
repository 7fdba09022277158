"""Closed-loop benchmark of karta_spark's spatial pipelines.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process starts Spark on
local[n], n = the CPUs this process may use, builds the workload's inputs
from --seed, then runs one pipeline pass at a time for --seconds seconds
and checks every pass's output.  The last stdout line is one JSON object:
with --trace 0 it carries the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run (spans around each layer call plus
Spark's SQL metrics).  The two lines before it record the environment and
the run (each pass time, the tail percentile, set-up times, CPU steal).

Scratch files (parquet inputs, checkpoints, Spark local dirs) live under
.perfbench_work/ in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_MEMORY = "2g"
TAIL_BEYOND = 10  # pass_s_tail: the pass time with 10 slower passes

END_TO_END = {
    "rows_per_s": "1/s", "pass_s_tail": "s", "ok_frac": "fraction",
    "peak_rss_mb": "MB", "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "pass_s": "s", "untraced_pass_s": "s", "trace_overhead_s": "s",
    "span_cover": "fraction",
    "jobs": "count", "stages": "count", "tasks": "count",
    "cells.encode_s": "s",
    "pip_join.construct_s": "s", "pip_join.construct_jobs": "count",
    "pip_join.cover_rows": "count", "pip_join.exec_s": "s",
    "pip_join.candidates": "count", "pip_join.hits": "count",
    "pip_join.full_hits": "count",
    "pip_join.refine_rows": "count", "pip_join.refine_kept": "count",
    "pip_join.refine_keep_ratio": "fraction", "pip_join.refine_share": "fraction",
    "knn.construct_s": "s", "knn.construct_jobs": "count", "knn.exec_s": "s",
    "knn.rows_out": "count", "knn.strip_arm": "flag",
    "sampling.construct_s": "s", "sampling.construct_jobs": "count",
    "sampling.exec_s": "s",
    "images.verify_construct_s": "s", "images.verify_exec_s": "s",
    "images.verified_frac": "fraction",
    "lineage.run_stage_s": "s", "lineage.overhead_s": "s",
    "lineage.bytes_written": "bytes", "lineage.lineage_rows": "count",
    "lineage.resume_jobs": "count", "lineage.resume_s": "s",
    "lineage.ckpt_bytes_per_row": "bytes",
    "dedup.construct_s": "s", "dedup.signatures_s": "s", "dedup.exec_s": "s",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_keep_ratio": "fraction",
    "python.boot_s": "s", "python.total_s": "s",
    "arrow.sent_mb": "MB", "arrow.recv_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.write_s": "s",
    "broadcast.mb": "MB", "broadcast.build_s": "s",
    "agg.s": "s", "codegen.s": "s",
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest pass-time percentile with at least
    TAIL_BEYOND slower passes.  A run of fewer than 4 * TAIL_BEYOND passes
    has no such percentile at or above p75, and reports p75 (interpolated
    between passes) instead, so one outlying pass, or one pass more or less
    in the window, does not jump the tail."""
    s = sorted(times)
    if len(s) >= 4 * TAIL_BEYOND:
        i = len(s) - 1 - TAIL_BEYOND
        return s[i], 100.0 * (i + 1) / len(s)
    if len(s) == 1:
        return s[0], 75.0
    return statistics.quantiles(s, n=4, method="inclusive")[2], 75.0


def _start_session(cores: int, work: str):
    from karta_spark.session import get_spark

    # the heap is committed and touched in full at JVM start (-Xms = driver
    # memory, pre-touched), so peak RSS does not depend on when G1 grew the
    # heap or how many of its regions a run happened to use
    java_opts = (f"-XX:-DontCompileHugeMethods -Xms{DRIVER_MEMORY} "
                 f"-XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp")
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf={
                          "spark.driver.memory": DRIVER_MEMORY,
                          "spark.local.dir": f"{work}/local",
                          "spark.sql.warehouse.dir": f"{work}/warehouse",
                          "spark.driver.extraJavaOptions": java_opts,
                          "spark.ui.showConsoleProgress": "false",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this machine since boot, from /proc/stat;
    on a shared VM, stolen time is when the host ran someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def _stop_spark(spark):
    """Stop Spark, then end the JVM and wait for it: PySpark otherwise leaves
    the gateway JVM running until the interpreter exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=120)


def _environment(spark, cores: int, args, wl) -> dict:
    jvm_props = spark.sparkContext._jvm.System
    java = f"{jvm_props.getProperty('java.vm.name')} {jvm_props.getProperty('java.version')}"
    import numpy
    import pyarrow
    return {"nproc": os.cpu_count(), "cpus_usable": cores,
            "master": spark.sparkContext.master, "spark": spark.version,
            "java": java, "python": platform.python_version(),
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inputs": wl.sizes()}


def _one_pass(spark, wl, tr):
    """Run and check one pass; returns (start, end, failures)."""
    t0 = time.monotonic()
    try:
        result = wl.run(spark, tr)
        t1 = time.monotonic()
        fails = wl.check(spark, result)
    except Exception:  # a failing pass is counted, and the run goes on
        t1 = time.monotonic()
        fails = [traceback.format_exc(limit=3)]
    return t0, t1, fails


def _timed_pass(spark, wl) -> tuple[float, list[str]]:
    t0, t1, fails = _one_pass(spark, wl, None)
    return t1 - t0, fails


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "karta_spark")):
        _fail(f"karta_spark/ not found under {ROOT}; run from a full checkout")
    sys.path[0] = ROOT  # not perfbench/: its modules are imported as a package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench.workloads import WORKLOADS, refine_shares
    from perfbench.spans import RssSampler, Tracer, span_cover, tree_cpu_s

    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cores = _cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    spark = None
    try:
        with RssSampler() as rss:
            wl = WORKLOADS[args.workload](args.seed, work, cores)
            setups, starts = [], []
            for rep in range(SETUP_REPS):
                # each set-up: the seeded inputs written, a fresh session (the
                # first launches the JVM) and what the workload keeps in it
                t0 = time.monotonic()
                if spark is not None:
                    spark.stop()
                wl.prepare()
                t1 = time.monotonic()
                spark = _start_session(cores, work)
                starts.append(time.monotonic() - t1)
                wl.setup(spark)
                setups.append(time.monotonic() - t0)
                if rep == 0:
                    wl.reference()  # the check's references, outside the timing
            # warm-up: a fixed number of passes, so that every run starts
            # measuring at the same point of the JIT's progress
            t0 = time.monotonic()
            warm_each = []
            for _ in range(wl.warmup_passes):
                w0, w1, fails = _one_pass(spark, wl, None)
                warm_each.append(w1 - w0)
                if fails:
                    print(f"perfbench: warm-up failed: {fails[0]}", file=sys.stderr)
            warmup = time.monotonic() - t0
            print(json.dumps({"env": _environment(spark, cores, args, wl)}), flush=True)

            tr = Tracer(spark) if args.trace else None
            times, layers, failed, attempted = [], [], 0, 0
            steal0, cpu0 = _cpu_ticks(), tree_cpu_s()
            deadline = time.monotonic() + args.seconds
            while not times or time.monotonic() < deadline:
                # a traced run pairs each traced pass with an untraced one,
                # in the same window of this box's shifting CPU capacity and
                # in alternating order: their difference is the overhead
                plain_first = len(times) % 2 == 0
                if tr is not None and plain_first:
                    plain, fails = _timed_pass(spark, wl)
                    attempted += 1
                    failed += bool(fails)
                t0, t1, fails = _one_pass(spark, wl, tr)
                attempted += 1
                times.append(t1 - t0)
                if fails:
                    failed += 1
                    print(f"perfbench: pass {attempted} failed: {fails}",
                          file=sys.stderr)
                elif tr is not None:
                    spans = tr.pass_spans(t0, t1)
                    layer = wl.probe(spark, tr)
                    if not plain_first:
                        plain, fails = _timed_pass(spark, wl)
                        attempted += 1
                        failed += bool(fails)
                    if "pip_join.candidates" in layer:
                        layer.update(refine_shares(layer))
                    layer["pass_s"] = t1 - t0
                    layer["untraced_pass_s"] = plain
                    layer["trace_overhead_s"] = t1 - t0 - plain
                    layer["span_cover"] = span_cover(spans, t0, t1)
                    for key in ("jobs", "stages", "tasks"):
                        layer[key] = sum(s[key] for s in spans)
                    layers.append(layer)
            steal1, cpu1 = _cpu_ticks(), tree_cpu_s()
        tail, pct = _tail(times)
        report = {
            "workload": args.workload, "passes": len(times), "attempted": attempted,
            "failed": failed, "failed_frac": failed / attempted,
            "pass_s_median": statistics.median(times),
            "pass_s_each": times,
            "pass_s_tail_percentile": pct, "setup_s_each": setups,
            "session_start_s_each": starts, "warmup_s": warmup,
            "warmup_pass_s_each": warm_each,
            "window_cpu_s": cpu1 - cpu0,
            "cpu_steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        }
        if tr is None:
            metrics = {
                "rows_per_s": wl.n / statistics.median(times),
                "pass_s_tail": tail,
                "ok_frac": (attempted - failed) / attempted,
                "peak_rss_mb": rss.peak / 1e6,
                "setup_s": statistics.median(setups) + warmup,
            }
            units = END_TO_END
        else:
            metrics = {}
            for name in PER_LAYER:
                vals = [lay[name] for lay in layers if name in lay]
                metrics[name] = float(statistics.median(vals)) if vals else 0.0
            metrics["session.start_s"] = statistics.median(starts)
            report["spans"] = _span_summary(tr.spans)
            units = PER_LAYER
        print(json.dumps({"report": report}), flush=True)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _span_summary(spans) -> dict:
    out: dict = {}
    for s in spans:
        d = out.setdefault(s["name"], {"kind": s["kind"], "n": 0, "total_s": 0.0})
        d["n"] += 1
        d["total_s"] += s["t1"] - s["t0"]
    return out


if __name__ == "__main__":
    sys.exit(main())
