"""``batch``: the lake's write and curation side, one fixed schedule.

The schedule mixes three kinds of op in a fixed order:

- ``commit``: a micro-batch of Jasmin-shaped performance records through
  ``operators.upsert.upsert_performance`` (decrease trace + counts), then
  ``versioned.merge_into`` and ``versioned.vacuum``; each commit is followed
  by a ``read`` op, one dashboard endpoint over the just-published
  ``versioned.read_version`` snapshot;
- ``query``: one registry query per operator family the dashboard never
  runs (the ROADMAP's carried items), built and collected;
- ``pretrain``: ``pipelines.pretrain_prepare`` over a seeded corpus.

The seed generates the tables, the ingest batches and the corpus.
"""

from __future__ import annotations

import json
import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.check import (
    digest,
    keep_latest_reference,
    manifest_totals,
    oracle_digest,
    pretrain_problems,
    rows_digest,
)
from perfbench.harness import Ctx, median, plan_phases_ms, request_layers
from perfbench.trace import OFF

TABLE_SCALE = 0.25  # of the sf0.1 row counts; the base table is ~15k rows
DOC_SCALE = 0.5  # 2500 documents, 1000 embeddings
# ROADMAP carried items, one per operator family; each has a DuckDB oracle
# that runs in about a second at this size
SWEEP = ("ivf_pq", "exact_substr", "decontam_bloom", "char_diversity")
N_COMMITS = 2
BATCH_SIZE = 1000
CORPUS_K = 1  # copies of the documents table in the pretrain corpus
KEYS = ["_id", "date"]
PERF_SCHEMA = "_id string, date string, total_earnings double, online_seconds long, updated_at string"
BASE_UPDATED_AT = "2023-12-31T00:00:00"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _json_bytes(rows) -> int:
    """Size of the records as the JSON lines a partner would post."""
    cols = ("_id", "date", "total_earnings", "online_seconds", "updated_at")
    return sum(len(json.dumps(dict(zip(cols, r)))) + 1 for r in rows)


def prepare(ctx: Ctx) -> None:
    """Base table (the jasmin_performance adapter, one row per key) as
    version 1 of a versioned table, the ingest batches, the corpus."""
    o = pq.read_table(os.path.join(ctx.sf_dir, "orders.parquet")).to_pandas()
    o = o[o.o_orderpriority.isin(["1-URGENT", "2-HIGH"])].sort_values("o_orderkey")
    base = {}
    for ck, od, tp, ok in zip(o.o_custkey, o.o_orderdate, o.o_totalprice, o.o_orderkey):
        key = (str(ck), od.strftime("%Y-%m-%d"))
        base.setdefault(key, (key[0], key[1], float(tp), int(ok % 86400), BASE_UPDATED_AT))
    base_rows = list(base.values())
    root = os.path.join(ctx.work, "jasmin_performance")
    os.makedirs(os.path.join(root, "_v=1"))
    cols = list(zip(*base_rows))
    pq.write_table(
        pa.table({
            "_id": pa.array(cols[0], pa.string()),
            "date": pa.array(cols[1], pa.string()),
            "total_earnings": pa.array(cols[2], pa.float64()),
            "online_seconds": pa.array(cols[3], pa.int64()),
            "updated_at": pa.array(cols[4], pa.string()),
        }),
        os.path.join(root, "_v=1", "part-00000.parquet"),
    )
    with open(os.path.join(root, "_LATEST"), "w") as fh:
        fh.write("1")
    batches = gen.ingest_batches(
        {k: v[2] for k, v in base.items()}, ctx.seed, N_COMMITS, BATCH_SIZE
    )
    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"))
    corpus_dir = os.path.join(ctx.work, "corpus")
    os.makedirs(corpus_dir)
    corpus = gen.scale_corpus(docs, CORPUS_K)
    pq.write_table(corpus, os.path.join(corpus_dir, "documents.parquet"),
                   row_group_size=corpus.num_rows)
    n_tok = [len(t.split(" ")) for t in corpus.column("text").to_pylist()]
    ctx.info["batch_inputs"] = {
        "base_rows": len(base_rows), "commits": N_COMMITS, "batch_size": BATCH_SIZE,
        "corpus_docs": corpus.num_rows, "sweep": list(SWEEP),
    }
    ctx.state = {
        "root": root,
        "base_rows": base_rows,
        "batches": batches,
        "corpus_dir": corpus_dir,
        "corpus_rows": corpus.num_rows,
        "corpus_gated": sum(1 for n in n_tok if 5 <= n <= 100_000),
    }


def schedule() -> list[tuple[str, object]]:
    """The run's ops in order, the same for every seed (the seed moves the
    data, not the order, so runs differ only in their inputs). A batch opens
    by landing data, so the session's first-op cost falls on commit 0."""
    ops: list[tuple[str, object]] = [("commit", 0), ("read", 0)]
    ops += [("query", q) for q in SWEEP[:2]]
    ops += [("commit", 1), ("read", 1)]
    ops += [("query", q) for q in SWEEP[2:]]
    ops += [("pretrain", None)]
    return ops


def _fresh_read_oracle(snapshot_dir: str) -> str:
    """The registry's api_earnings oracle with its jasmin_perf adapter
    replaced by the published snapshot."""
    from data_lake_spark.queries import full_registry

    sql = full_registry()["api_earnings"].oracle
    return re.sub(
        r"jasmin_perf AS \(.*?\n\),",
        "jasmin_perf AS (SELECT _id, date, total_earnings, online_seconds "
        f"FROM read_parquet('{snapshot_dir}/*.parquet')),",
        sql,
        count=1,
        flags=re.S,
    )


def fresh_read(ctx: Ctx, tr) -> tuple[str, int]:
    """One endpoint over the published snapshot; returns the answer's
    digest and the snapshot version it read."""
    from data_lake_spark import versioned
    from data_lake_spark.api import domain
    from data_lake_spark.api import endpoints as ep

    spark, root = ctx.spark, ctx.state["root"]
    v = versioned.current_version(root)
    with tr.span("catalog.resolve"):
        snap = versioned.read_version(spark, root, v)
        users = domain.users_dim(spark, ctx.sf_dir)
        streamate = domain.streamate_performance(spark, ctx.sf_dir)
    with tr.span("api.build"):
        df = ep.earnings(users, snap, streamate, start_date="1996-06-01")
    with tr.span("spark.plan") as sp:
        df._jdf.queryExecution().executedPlan()
        if sp is not None:
            sp.attrs["phases_ms"] = plan_phases_ms(df)
    with tr.span("exec.collect"):
        return digest(df.toPandas()), v


def check_read(ctx: Ctx, got: tuple[str, int], what: str) -> None:
    want = oracle_digest(
        _fresh_read_oracle(os.path.join(ctx.state["root"], f"_v={got[1]}")), ctx.sf_dir
    )
    ctx.ledger.record(got[0] == want, "oracle", what)


def _commit(ctx: Ctx, tr, n: int) -> dict:
    """Land batch ``n``: upsert (trace + counts), merge, vacuum."""
    from data_lake_spark import versioned
    from data_lake_spark.operators.upsert import upsert_performance

    spark, root = ctx.spark, ctx.state["root"]
    rows = ctx.state["batches"][n]
    t0 = time.perf_counter()
    with tr.span("upsert.upsert_performance"):
        incoming = spark.createDataFrame(rows, PERF_SCHEMA)
        res = upsert_performance(versioned.read_version(spark, root), incoming)
        n_trace = res.trace.count()
        counts = res.n_updated_expr.collect()[0]
    t1 = time.perf_counter()
    with tr.span("versioned.merge_into"):
        v = versioned.merge_into(spark, root, incoming, KEYS, "updated_at")
    t2 = time.perf_counter()
    with tr.span("versioned.vacuum"):
        versioned.vacuum(root, keep_last=2)
    t3 = time.perf_counter()
    return {
        "upsert": t1 - t0, "merge": t2 - t1, "vacuum": t3 - t2,
        "trace_rows": n_trace, "n_incoming": counts.n_incoming,
        "n_updated": counts.n_updated, "version": v,
    }


def _pretrain(ctx: Ctx, tr) -> dict:
    from data_lake_spark.pipelines import pretrain_prepare

    with tr.span("pipelines.pretrain_prepare"):
        return pretrain_prepare(ctx.spark, ctx.state["corpus_dir"], os.path.join(ctx.work, "shards"))


def run(ctx: Ctx) -> dict:
    from data_lake_spark import versioned
    from data_lake_spark.queries import full_registry

    spark, tr, st = ctx.spark, ctx.tracer, ctx.state
    reg = full_registry()
    root = st["root"]
    ref_state, ref_batches = keep_latest_reference(st["base_rows"], st["batches"])
    lat: dict[str, list[float]] = {"commit": [], "read": [], "query": [], "pretrain": []}
    commits: list[dict] = []
    answers: dict[str, str] = {}
    reads: list = []
    pre: dict = {}

    ops = schedule()
    ctx.window_start()
    t_all = time.perf_counter()
    for i, (kind, arg) in enumerate(ops):
        t0 = time.perf_counter()
        with tr.span(kind, op=f"b{i}", arg=arg):
            if kind == "query":
                with tr.span("queries.build"):
                    df = reg[arg].fn(spark, ctx.sf_dir)
                with tr.span("queries.collect"):
                    answers[arg] = digest(df.toPandas())
            elif kind == "commit":
                c = _commit(ctx, tr, arg)
            elif kind == "read":
                got = fresh_read(ctx, tr)
            else:
                pre = _pretrain(ctx, tr)
        lat[kind].append(time.perf_counter() - t0)
        ctx.info.setdefault("op_s", []).append([kind, arg, round(lat[kind][-1], 3)])
        # checks that need the state right after the op (untimed)
        if kind == "commit":
            ref = ref_batches[arg]
            c["written"] = _dir_bytes(os.path.join(root, f"_v={c['version']}"))
            c["user_bytes"] = _json_bytes(st["batches"][arg])
            commits.append(c)
            ok = (c["trace_rows"], c["n_updated"], c["n_incoming"]) == (
                ref["decreases"], ref["updated"], len(st["batches"][arg]))
            ctx.ledger.record(ok, "reference", f"commit {arg}: {c} vs {ref}")
        elif kind == "read":
            reads.append((got, arg))
        elif kind == "pretrain":
            dst = os.path.join(ctx.work, "shards")
            pre["bytes_written"] = _dir_bytes(dst)
            bad = pretrain_problems(pre, manifest_totals(dst), st["corpus_rows"], st["corpus_gated"])
            ctx.ledger.record(not bad, "reference", f"pretrain: {bad}")
    wall = time.perf_counter() - t_all
    ctx.window_end()

    # untimed checks: reads against their snapshot (vacuum keeps the last
    # two, which N_COMMITS = 2 reads), registry oracles, the final
    # published table
    for got, n in reads:
        check_read(ctx, got, f"fresh read after commit {n}")
    for name in SWEEP:
        want = oracle_digest(reg[name].oracle, ctx.sf_dir)
        ctx.ledger.record(answers.get(name) == want, "oracle", f"query {name}")
    final = versioned.read_version(spark, root).toPandas()
    got_rows = list(final.itertuples(index=False, name=None))
    ctx.ledger.record(
        rows_digest(got_rows) == rows_digest(ref_state.values()), "reference",
        f"final table: {len(got_rows)} rows vs keep-latest {len(ref_state)}",
    )
    if ctx.trace:
        ctx.layers["trace.overhead_ms"] = _read_ab(ctx)

    ops_all = [x for v in lat.values() for x in v]
    written = sum(c["written"] for c in commits)
    ctx.layers.update({
        "upsert.ms": median([c["upsert"] for c in commits]) * 1e3,
        "upsert.trace_rows": float(sum(c["trace_rows"] for c in commits)),
        "versioned.merge_ms": median([c["merge"] for c in commits]) * 1e3,
        "versioned.vacuum_ms": median([c["vacuum"] for c in commits]) * 1e3,
        "versioned.bytes_written_mb": written / 2**20,
        "versioned.write_amp": written / sum(c["user_bytes"] for c in commits),
        "ingest.commit_p50_ms": median(lat["commit"]) * 1e3,
        "ingest.records_per_s": N_COMMITS * BATCH_SIZE / sum(lat["commit"]),
        "ingest.fresh_read_p50_ms": median(lat["read"]) * 1e3,
        "ingest.stored_bytes_per_user_byte": _dir_bytes(root) / _json_bytes(ref_state.values()),
        "textdedup.verified_per_candidate": pre["n_verified_edges"] / max(pre["n_candidate_pairs"], 1),
        "export.bytes_written_mb": pre["bytes_written"] / 2**20,
        "pretrain.docs_per_s": st["corpus_rows"] / sum(lat["pretrain"]),
        "sweep.sweep_s": sum(lat["query"]),
    })
    ctx.layers["op.p50_ms"] = median(ops_all) * 1e3
    ctx.info["ops"] = len(ops_all)
    ctx.info["measure_wall_s"] = wall
    ctx.info["pretrain"] = {k: v for k, v in pre.items() if k != "export"}
    # one client: ops per second of op time (the checks between ops and
    # the bookkeeping around them are not the engine's)
    return {"ops_per_s": len(ops_all) / sum(ops_all)}


def _read_ab(ctx: Ctx, pairs: int = 3) -> float:
    """Tracing overhead: the fresh read, alternately untraced and traced,
    after the measured window; median traced minus median untraced ms."""
    times: dict[bool, list[float]] = {False: [], True: []}
    for i in range(2 * pairs):
        traced = bool(i % 2)
        if not traced:
            ctx.spark.sparkContext.setJobGroup("perfbench-untraced", "untraced")
        tr = ctx.tracer if traced else OFF
        t0 = time.perf_counter()
        with tr.span("read", op=f"ab{i}"):
            fresh_read(ctx, tr)
        times[traced].append(time.perf_counter() - t0)
    return (median(times[True]) - median(times[False])) * 1e3


def trace_layers(ctx: Ctx) -> None:
    """Fresh-read and registry-query layers, from the spans once jobs are
    attached."""
    request_layers(ctx, "read")
    spans = ctx.tracer.spans
    build = [s for s in spans if s.name == "queries.build"]
    ctx.layers["queries.build_s"] = sum(s.end - s.start for s in build)
    ctx.layers["queries.build_jobs"] = float(sum(s.attrs["spark"]["jobs"] for s in build))
    ctx.layers["queries.collect_s"] = sum(
        s.end - s.start for s in spans if s.name == "queries.collect"
    )
