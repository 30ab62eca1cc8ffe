"""Lake benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Generates the run's inputs from ``--seed`` into a private work directory
under ``.perfbench_work/``, sets up the engine's Spark session, runs the
workload, checks every timed answer and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones and writes the span
trace to ``.perfbench_work/traces/``. Logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, this directory would lead sys.path and its module names
# (trace, gen, ...) would shadow the standard library's
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT

# A/B switches that change what the engine executes; a run under one of
# them would not measure the tree as committed.
AB_SWITCHES = ("SPARK_GRAFT_SERIAL_BUILD", "SPARK_GRAFT_GRAM_SALTS", "SPARK_SHUFFLE_PARTITIONS")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}
PER_LAYER = {
    "op.p50_ms": "ms",
    "peak_rss_mb": "MB",
    "session.jvm_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.resolve_ms": "ms",
    "catalog.resolve_share": "ratio",
    "api.build_ms": "ms",
    "sqlcompat.sql_ms": "ms",
    "spark.plan_ms": "ms",
    "exec.collect_ms": "ms",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.collect_s": "s",
    "upsert.ms": "ms",
    "upsert.trace_rows": "count",
    "versioned.merge_ms": "ms",
    "versioned.vacuum_ms": "ms",
    "versioned.bytes_written_mb": "MB",
    "versioned.write_amp": "ratio",
    "ingest.commit_p50_ms": "ms",
    "ingest.records_per_s": "1/s",
    "ingest.fresh_read_p50_ms": "ms",
    "ingest.stored_bytes_per_user_byte": "ratio",
    "textdedup.verified_per_candidate": "ratio",
    "export.bytes_written_mb": "MB",
    "pretrain.docs_per_s": "1/s",
    "sweep.sweep_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_ms": "ms",
    "spark.exec_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_ratio": "ratio",
    "spark.unattributed_job_share": "ratio",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}


def _workloads():
    from perfbench import batch, dashboard

    return {"dashboard": dashboard, "batch": batch}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _environment(work: str) -> dict:
    """Point every engine and Spark scratch path at ``work`` and make the
    repo importable from Spark's Python workers."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var, sub in (
        ("SPARK_GRAFT_ARTIFACT_DIR", "artifacts"),
        ("SPARK_LOCAL_DIRS", "spark-local"),
        ("TMPDIR", "tmp"),
    ):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEMORY": os.environ["SPARK_DRIVER_MEMORY"],
    }


def _stop_spark(ctx) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx is not None and ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _trace_layers(ctx, name: str, mod) -> None:
    """Spark counters over the measured window, charged to spans, and the
    trace file."""
    from perfbench import trace
    from perfbench.harness import CORES

    t0, t1 = ctx.window_ms
    jobs = [
        j for j in trace.spark_jobs(ctx.spark.sparkContext)
        if j["submitted_ms"] is not None and t0 <= j["submitted_ms"] <= t1
    ]
    ctx.layers.update(trace.summarize_jobs(jobs, (t1 - t0) / 1e3, CORES))
    trace.attach(ctx.tracer, jobs)
    if hasattr(mod, "trace_layers"):
        mod.trace_layers(ctx)
    ctx.layers["trace.spans"] = len(ctx.tracer.spans)
    out_dir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}-seed{ctx.seed}.json")
    modules = trace.by_module(jobs)
    ctx.tracer.dump(path, {"workload": name, "seed": ctx.seed, "layers": ctx.layers,
                           "spark_by_module": modules, "info": ctx.info})
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    log("self time by span (ms):")
    for k, v in sorted(ctx.tracer.self_times().items(), key=lambda kv: -kv[1]["self_ms"]):
        log(f"  {k:32s} n={v['n']:4d} self={v['self_ms']:10.1f} total={v['total_ms']:10.1f}")
    log("spark by call-site module:")
    for k, v in sorted(modules.items(), key=lambda kv: -kv[1]["run_ms"]):
        log(f"  {k:40s} jobs={v['jobs']:5d} tasks={v['tasks']:6d} run_ms={v['run_ms']:8d}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_lake_spark", "session.py")):
        log(f"engine package data_lake_spark not found under {ROOT}")
        return 2
    bad = [v for v in AB_SWITCHES if os.environ.get(v)]
    if bad:
        log(f"refusing to run with A/B switches set: {', '.join(bad)}")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = _environment(work)
    workloads = _workloads()
    if args.workload not in workloads:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
        return 2
    mod = workloads[args.workload]

    from perfbench import gen
    from perfbench.harness import Ctx, set_up

    ctx = None
    try:
        t0 = time.perf_counter()
        sf_dir = gen.write_tables(
            gen.make_tables(args.seed, mod.TABLE_SCALE, mod.DOC_SCALE), os.path.join(work, "tables")
        )
        ctx = Ctx(args.seed, args.seconds, bool(args.trace), work, sf_dir)
        ctx.info.update(env)
        mod.prepare(ctx)  # workload inputs, excluded from set-up time
        t1 = time.perf_counter()
        setup_s = set_up(ctx)
        t2 = time.perf_counter()
        metrics = mod.run(ctx)
        ctx.info["phase_s"] = {"inputs": t1 - t0, "setup": t2 - t1,
                               "workload": time.perf_counter() - t2}
        metrics["setup_s"] = setup_s
        ctx.layers["peak_rss_mb"] = ctx.peak_rss_mb
        metrics["cpu_ms_per_op"] = ctx.cpu_s * 1e3 / ctx.info["ops"]
        if args.trace:
            _trace_layers(ctx, args.workload, mod)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)

    led = ctx.ledger
    log(f"env {env}")
    log(f"info {json.dumps(ctx.info, default=str)}")
    log(f"checks by way {dict(led.by_way)}; failed {led.failed}/{led.attempted}")
    for m in led.mismatches:
        log(f"  MISMATCH {m}")
    if args.trace:
        names = PER_LAYER
        values = {k: ctx.layers.get(k, 0.0) for k in names}
    else:
        names = END_TO_END
        values = metrics
    out = {
        "correct": led.failed == 0 and led.attempted > 0,
        "attempted": max(led.attempted, 1),
        "failed": led.failed if led.attempted else 1,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    t_start = time.perf_counter()
    rc = main()
    log(f"wall {time.perf_counter() - t_start:.1f}s")
    sys.exit(rc)
