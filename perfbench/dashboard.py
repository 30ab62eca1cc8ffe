"""``dashboard``: the reference's serving traffic, closed loop, two clients.

Each request is one of the 8 ``api.endpoints`` functions over the
``api.domain`` adapters, or one of the 4 Athena-dialect registry queries
through ``catalog.register_views`` + ``sqlcompat.run_athena_sql``. Its
parameters are the registry's own, moved by the request's date window.
Timed per request: catalog resolve -> build (endpoint call or SQL) ->
Spark planning -> execution and transfer (``toPandas``).
"""

from __future__ import annotations

import threading
import time

from perfbench import gen
from perfbench.check import digest, oracle_digest, shift_years
from perfbench.harness import Ctx, median, plan_phases_ms, request_layers
from perfbench.trace import OFF

CLIENTS = 2
WARM_CLIENTS = 4  # the untimed warm-up only
TABLE_SCALE = 0.25  # of the sf0.1 row counts
DOC_SCALE = 1.0  # documents/embeddings are only registered, never read
BLOCK = len(gen.KINDS)  # the stream is cut at whole blocks of 12 kinds
# the window runs whole blocks until --seconds has passed, and at least
# MIN_BLOCKS of them: 24 requests, ten beyond the median and more
MIN_BLOCKS = 2


def _endpoint(kind: str, years: int):
    """(adapters needed, endpoint call) for an endpoint kind, with the
    registry's parameters (queries/api_queries.py) moved by ``years``."""
    from data_lake_spark.api import endpoints as ep

    def d(s: str) -> str:
        return f"{int(s[:4]) + years}{s[4:]}"

    uj = ("users", "jasmin", "streamate")
    calls = {
        "earnings": (uj, lambda u, j, s: ep.earnings(u, j, s, start_date=d("1996-06-01"))),
        "needle": (uj, lambda u, j, s: ep.needle(
            u, j, s, start_date=d("1996-03-10"), end_date=d("1996-04-08"),
            locations=[{"officeName": "BUILDING"}, {"cityName": "NATION_3"}])),
        "avg_profitability": (uj, lambda u, j, s: ep.average_profitability(
            u, j, s, start_date=d("1996-02-01"), end_date=d("1996-02-28"),
            platform="streamate")),
        "total_profit": (uj, lambda u, j, s: ep.total_profit_report(
            u, j, s, start_date=d("1996-02-01"), end_date=d("1996-03-31"),
            locations=[{"cityName": "NATION_5"}])),
        "profit_avg": (("users", "eap"), lambda u, e: ep.profit_avg(
            u, e, start_date=d("1996-01-01"), end_date=d("1996-06-30"))),
        "models_distribution": (uj, lambda u, j, s: ep.models_earning_distribution(
            u, j, s, start_date=d("1996-01-01"), end_date=d("1996-12-31"),
            sort_key="DESC")),
        "dow": (uj, lambda u, j, s: ep.earnings_by_day_of_week(
            u, j, s, start_date=d("1996-01-01"), end_date=d("1996-12-31"))),
        "detailed_ranking": (uj, lambda u, j, s: ep.detailed_ranking(
            u, j, s, start_date=d("1996-01-01"), end_date=d("1996-06-30"),
            page=2, limit=15)),
    }
    return calls[kind]


def athena_sql(kind: str) -> str:
    from data_lake_spark.queries import sqlcompat_q

    return {
        "athena_earnings_day": sqlcompat_q._ATHENA_EARNINGS_DAY,
        "athena_dow_dist": sqlcompat_q._ATHENA_DOW,
        "athena_weekly": sqlcompat_q._ATHENA_WEEKLY,
        "athena_needle_period": sqlcompat_q._ATHENA_NEEDLE,
    }[kind]


def registry_name(kind: str) -> str:
    return kind if kind.startswith("athena_") else f"api_{kind}"


def _adapter(spark, sf_dir: str, name: str):
    from data_lake_spark.api import domain

    return {
        "users": domain.users_dim,
        "jasmin": domain.jasmin_performance,
        "streamate": domain.streamate_performance,
        "eap": domain.earnings_by_performer,
    }[name](spark, sf_dir)


def serve(ctx: Ctx, req: gen.Request, traced: bool):
    """One request, layer by layer; returns the result as pandas."""
    from data_lake_spark.catalog import register_views
    from data_lake_spark.sqlcompat import run_athena_sql

    spark, sf, years = ctx.spark, ctx.sf_dir, req.window
    tr = ctx.tracer if traced else OFF
    with tr.span("request", op=f"r{req.rid}", kind=req.kind, window=years):
        if req.kind.startswith("athena_"):
            with tr.span("catalog.resolve"):
                register_views(spark, sf)
            with tr.span("sqlcompat.sql"):
                df = run_athena_sql(spark, shift_years(athena_sql(req.kind), years))
        else:
            needs, call = _endpoint(req.kind, years)
            with tr.span("catalog.resolve"):
                frames = [_adapter(spark, sf, n) for n in needs]
            with tr.span("api.build"):
                df = call(*frames)
        with tr.span("spark.plan") as sp:
            df._jdf.queryExecution().executedPlan()
            if sp is not None:
                sp.attrs["phases_ms"] = plan_phases_ms(df)
        with tr.span("exec.collect"):
            return df.toPandas()


def _run_all(ctx: Ctx, reqs, deadline: float | None, traced_fn, clients: int = CLIENTS):
    """Serve ``reqs`` from ``clients`` threads (closed loop) until they run
    out, or ``deadline`` has passed at a block boundary after MIN_BLOCKS
    blocks; returns (request, latency_s, digest or error, traced) per
    request."""
    it = iter(reqs)
    lock = threading.Lock()
    out = []
    started = [0]

    def client():
        while True:
            with lock:
                if (deadline is not None and time.perf_counter() >= deadline
                        and started[0] >= MIN_BLOCKS * BLOCK and started[0] % BLOCK == 0):
                    return
                req = next(it, None)
                started[0] += 1
            if req is None:
                return
            traced = traced_fn(req)
            if ctx.trace and not traced:
                # untraced arm of the overhead A/B: one group for the op
                ctx.spark.sparkContext.setJobGroup("perfbench-untraced", "untraced")
            t0 = time.perf_counter()
            try:
                pdf = serve(ctx, req, traced)
                res = digest(pdf)
            except Exception as e:  # a failed op is counted, not raised
                res = e
            dt = time.perf_counter() - t0
            with lock:
                out.append((req, dt, res, traced))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def prepare(ctx: Ctx) -> None:
    """Nothing beyond the shared tables."""


def run(ctx: Ctx) -> dict:
    # warm-up: every kind once at window 0 (untimed); its answers are the
    # fallback reference for requests without an oracle
    warm = [gen.Request(-1 - i, k, 0) for i, k in enumerate(gen.KINDS)]
    t_warm = time.perf_counter()
    warm_out = _run_all(ctx, warm, None, lambda r: False, clients=WARM_CLIENTS)
    ctx.info["warmup_s"] = time.perf_counter() - t_warm

    ctx.window_start()
    t0 = time.perf_counter()
    done = _run_all(
        ctx, gen.request_stream(ctx.seed, 1000), t0 + ctx.seconds,
        lambda r: ctx.trace and r.rid % 2 == 0,
    )
    wall = time.perf_counter() - t0
    ctx.window_end()

    # checks (untimed): the registry's DuckDB oracle with the request's
    # dates, else the warm-up answer of the same request
    from data_lake_spark.queries import full_registry

    t_check = time.perf_counter()
    reg = full_registry()
    ref: dict[tuple[str, int], tuple[str, str]] = {}
    for req, _, res, _ in warm_out:
        if isinstance(res, str):
            ref[(req.kind, 0)] = ("warmup", res)
    for key in {(r.kind, r.window) for r, *_ in warm_out + done}:
        sql = reg[registry_name(key[0])].oracle
        try:
            ref[key] = ("oracle", oracle_digest(shift_years(sql, key[1]), ctx.sf_dir))
        except Exception as e:
            ctx.info.setdefault("oracle_errors", []).append(f"{key}: {e}"[:200])
    for req, _, res, _ in warm_out + done:
        way, want = ref.get((req.kind, req.window), ("none", None))
        if isinstance(res, Exception):
            ctx.ledger.fail(f"{req.kind}/w{req.window}: {res!r}"[:300])
        else:
            ctx.ledger.record(res == want, way, f"{req.kind}/w{req.window}")

    ctx.info["check_s"] = time.perf_counter() - t_check
    lat = [dt for _, dt, _, _ in done]
    ctx.info["op_s"] = [[r.kind, r.window, round(dt, 3)] for r, dt, _, _ in done]
    ctx.info["ops"] = len(done)
    ctx.info["repeat_share"] = (
        sum(1 for r, *_ in done if r.window == 0) / len(done) if done else 0.0
    )
    ctx.info["measure_wall_s"] = wall
    ctx.layers["op.p50_ms"] = median(lat) * 1e3
    if ctx.trace:
        on = [dt for _, dt, _, t in done if t]
        off = [dt for _, dt, _, t in done if not t]
        ctx.layers["op.p50_ms"] = median(off) * 1e3
        ctx.layers["trace.overhead_ms"] = (median(on) - median(off)) * 1e3
        request_layers(ctx, "request")
    # closed loop, no think time: throughput = clients / mean latency
    # (Little's law), which leaves out the idle tail after the last block
    return {"ops_per_s": CLIENTS * len(lat) / sum(lat)}
