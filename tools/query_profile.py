#!/usr/bin/env python
"""Per-query profiler: split each query's wall time into driver build
(the ``fn()`` call), Catalyst planning (``queryExecution().executedPlan()``)
and collect, report the noop-sink minimum (the computation timed without
result transfer), and write each query's ``explain("formatted")`` plan to
``plans/<tag>/<name>.txt``.

Bench conditions: after the bench.py-style session warm-up, each query
runs one unmeasured warm pass, then ``--repeats`` timed passes; the
columns are per-step minima.

Usage:
  python tools/query_profile.py q1,q2,... [--tag before] [--sf DIR] [--repeats 3]
  python tools/query_profile.py q1,q2 --tag after --no-plans
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def warm_session(spark, sf: str) -> None:
    """bench.py's warm-up: touch every table, spawn the Python workers."""
    for p in glob.glob(os.path.join(sf, "*.parquet")):
        spark.read.parquet(p).count()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()


def timed_pass(spark, fn, sf: str) -> tuple[float, float, float, list]:
    """One (build, plan, collect) pass in seconds, plus the rows."""
    t0 = time.perf_counter()
    df = fn(spark, sf)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    rows = df.collect()
    return t1 - t0, t2 - t1, time.perf_counter() - t2, rows


def noop_pass(spark, fn, sf: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def write_plan(spark, df, path: str) -> None:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    with open(path, "w") as fh:
        fh.write(df._jdf.queryExecution().explainString(mode))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", help="comma-separated query names")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    from data_lake_spark.queries import full_registry
    from data_lake_spark.session import get_spark

    spark = get_spark("profile")
    reg = full_registry()
    plans_dir = os.path.join(REPO, "plans", args.tag)
    if not args.no_plans:
        os.makedirs(plans_dir, exist_ok=True)
    warm_session(spark, args.sf)

    print(
        f"{'query':32s} {'build':>7s} {'plan':>7s} {'collect':>7s} "
        f"{'noop':>7s}  rows"
    )
    for name in (n.strip() for n in args.names.split(",")):
        fn = reg[name].fn
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = fn(spark, args.sf)
        if not args.no_plans:
            write_plan(spark, df, os.path.join(plans_dir, f"{name}.txt"))
        df.collect()  # warm pass, unmeasured
        passes = [timed_pass(spark, fn, args.sf) for _ in range(args.repeats)]
        noop = min(noop_pass(spark, fn, args.sf) for _ in range(args.repeats))
        spark.sparkContext.setJobDescription(None)
        build, plan, coll = (min(p[i] for p in passes) for i in range(3))
        print(
            f"{name:32s} {build:7.3f} {plan:7.3f} {coll:7.3f} {noop:7.3f}"
            f"  {len(passes[-1][3])}",
            flush=True,
        )


if __name__ == "__main__":
    main()
