"""Session schema cache in ``catalog._read``: both sides of every boundary.

A table's parquet schema is inferred (one Spark job) once per session per
file version; later reads pass the cached schema and launch no job. A
rewrite of the same path must be seen, a missing table must still fail
the way Spark fails, the events.ts normalization must not depend on
whether the schema came from the cache, and concurrent callers on a cold
session must agree.
"""

from __future__ import annotations

import os
import re
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from data_lake_spark.catalog import load_table, register_views, table_path
from tests.test_plan_contracts import DOMAIN_ADAPTERS, _groups_of_jobs_run_by


def _jobs(spark, run) -> int:
    return len(_groups_of_jobs_run_by(spark, "catalog-cache", run))


def test_unchanged_tables_launch_no_jobs_on_a_warm_session(spark, sf_dir):
    cold = spark.newSession()
    # cold: one inference job per table; warm: none
    assert _jobs(cold, lambda: register_views(cold, sf_dir)) > 0
    assert _jobs(cold, lambda: register_views(cold, sf_dir)) == 0
    assert _jobs(cold, lambda: load_table(cold, sf_dir, "orders")) == 0


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewrite_of_the_same_path_is_seen(spark, tmp_path, layout):
    # a directory table is rewritten in place, part file by part file: its
    # own inode/mtime/size stay put, so only the walk over its files sees it
    d = str(tmp_path)
    target = table_path(d, "t")
    if layout == "directory":
        os.mkdir(target)
        target = os.path.join(target, "part-0.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}), target)
    assert _jobs(spark, lambda: load_table(spark, d, "t")) == 1
    assert _jobs(spark, lambda: load_table(spark, d, "t")) == 0

    pq.write_table(
        pa.table({"k": [1, 2, 3, 4], "v": ["a", "b", "c", "d"]}), target
    )
    assert _jobs(spark, lambda: load_table(spark, d, "t")) == 1
    df = load_table(spark, d, "t")
    assert df.columns == ["k", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]


def test_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")
    # register_views skips absent tables and registers the present ones
    pq.write_table(
        pa.table({"r_regionkey": [0]}), table_path(str(tmp_path), "region")
    )
    assert list(register_views(spark, str(tmp_path))) == ["region"]


# events.ts has shipped as TIMESTAMP(NANOS), TIMESTAMP(MICROS) adjusted to
# UTC, and TIMESTAMP(MICROS) wall clock (NTZ); each must load as long nanos
_TS_TYPES = {
    "nanos": pa.timestamp("ns"),
    "micros_utc": pa.timestamp("us", tz="UTC"),
    "micros_ntz": pa.timestamp("us"),
}
_SINCE_NS = 1_600_000_000 * 10**9


@pytest.fixture(scope="module")
def events_variants(sf_dir, tmp_path_factory):
    src = pq.read_table(table_path(sf_dir, "events"))
    i = src.schema.get_field_index("ts")
    out = {}
    for tag, typ in _TS_TYPES.items():
        d = str(tmp_path_factory.mktemp(f"events_{tag}"))
        ts = src.column("ts").cast(typ)
        pq.write_table(
            src.set_column(i, pa.field("ts", typ), ts),
            table_path(d, "events"),
            version="2.6",
        )
        out[tag] = d
    return out


@pytest.mark.parametrize("tag", sorted(_TS_TYPES))
def test_events_ts_same_cold_and_warm(spark, events_variants, sf_dir, tag):
    d = events_variants[tag]
    cold = spark.newSession()

    def snap():
        df = load_table(cold, d, "events")
        return df.schema["ts"].dataType.simpleString(), sorted(
            tuple(r) for r in df.collect()
        )

    assert _jobs(cold, lambda: load_table(cold, d, "events")) == 1
    first = snap()
    assert _jobs(cold, lambda: load_table(cold, d, "events")) == 0
    assert snap() == first
    assert first[0] == "bigint"
    # every variant conforms to the testdata's own rows
    ref = load_table(spark, sf_dir, "events")
    assert first[1] == sorted(tuple(r) for r in ref.collect())


@pytest.mark.parametrize("tag", sorted(_TS_TYPES))
def test_warm_watermark_still_pushes_to_scan(spark, events_variants, tag):
    d = events_variants[tag]
    cold = spark.newSession()
    load_table(cold, d, "events")  # warm the cache
    n_jobs = _jobs(
        cold, lambda: load_table(cold, d, "events", since_ns=_SINCE_NS)
    )
    assert n_jobs == 0
    df = load_table(cold, d, "events", since_ns=_SINCE_NS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("GreaterThan(ts" in p for p in pushed), plan
    assert df.count() == df.filter(df.ts > _SINCE_NS).count()


def _serve(session, sf_dir):
    """register_views plus the four adapters: (schemas, sorted answers)."""
    views = register_views(session, sf_dir)
    schemas = {n: v.schema.json() for n, v in views.items()}
    answers = {}
    for name, fn in DOMAIN_ADAPTERS.items():
        df = fn(session, sf_dir)
        schemas[name] = df.schema.json()
        pdf = df.toPandas()
        answers[name] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    return schemas, answers


def test_concurrent_cold_callers_agree(spark, sf_dir):
    cold = spark.newSession()
    barrier = threading.Barrier(4)
    results: list = [None] * 4
    errors: list = []

    def client(i):
        try:
            barrier.wait()
            results[i] = _serve(cold, sf_dir)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the cache's check and store
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    ref_schemas, ref_answers = _serve(spark.newSession(), sf_dir)
    for schemas, answers in results:
        assert schemas == ref_schemas
        for name, pdf in answers.items():
            assert pdf.equals(ref_answers[name]), name
