"""Shared run plumbing: the run context, session set-up, memory, stats."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench.check import Ledger
from perfbench.trace import OFF, Tracer

CORES = 4


@dataclass
class Ctx:
    """Everything one run shares across its workload code."""

    seed: int
    seconds: float
    trace: bool
    work: str  # the run's private work directory
    sf_dir: str  # generated tables
    spark: object = None
    tracer: Tracer | None = None  # OFF when the run is untraced
    ledger: Ledger = field(default_factory=Ledger)
    layers: dict = field(default_factory=dict)  # per-layer metrics
    info: dict = field(default_factory=dict)  # logged, not a metric
    state: dict = field(default_factory=dict)  # the workload's own inputs
    window_ms: list = field(default_factory=list)  # measured window, epoch ms
    peak_rss_mb: float = 0.0  # over the measured window
    cpu_s: float = 0.0  # CPU time of this process tree over the window

    def window_start(self) -> None:
        reset_peak_rss()
        self.window_ms = [time.time() * 1e3, None]
        self._steal = cpu_steal_s()
        self._cpu = tree_cpu_s()
        self._jvm = jvm_times_ms(self.spark)

    def window_end(self) -> None:
        self.window_ms[1] = time.time() * 1e3
        self.cpu_s = tree_cpu_s() - self._cpu
        self.info["window_cpu_s"] = round(self.cpu_s, 2)
        self.info["window_jvm_ms"] = {
            k: v - self._jvm[k] for k, v in jvm_times_ms(self.spark).items()
        }
        self.peak_rss_mb = peak_rss_mb()
        self.info["window_rss_mb"] = {str(p): _hwm_kb(p) // 1024 for p in _pids()}
        # CPU time the hypervisor gave to other guests while we measured
        self.info["window_steal_s"] = round(cpu_steal_s() - self._steal, 2)


def spark_conf(work: str) -> dict[str, str]:
    """Benchmark-only session settings: keep the whole job history for
    the trace, no console progress bars, every temp file in ``work``."""
    return {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def warm_session(spark, sf_dir: str) -> None:
    """The session warm-up every workload pays: register the catalog
    views (one schema read per table) and run one small aggregate."""
    from data_lake_spark.catalog import register_views

    views = register_views(spark, sf_dir)
    views["nation"].groupBy("n_regionkey").count().collect()


def set_up(ctx: Ctx, reps: int = 3) -> float:
    """Start and warm the session ``reps`` times (the first start also
    launches the JVM); returns the median set-up seconds. Leaves the last
    session in ``ctx.spark``."""
    from data_lake_spark.session import get_spark

    starts, warms = [], []
    for _ in range(reps):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench", extra_conf=spark_conf(ctx.work))
        t1 = time.perf_counter()
        warm_session(ctx.spark, ctx.sf_dir)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
    ctx.layers["session.jvm_s"] = starts[0]
    ctx.layers["session.start_s"] = statistics.median(starts[1:] or starts)
    ctx.layers["session.warmup_s"] = statistics.median(warms)
    ctx.tracer = Tracer(ctx.spark.sparkContext) if ctx.trace else OFF
    return statistics.median(s + w for s, w in zip(starts, warms))


def cpu_steal_s() -> float:
    """Machine-wide stolen CPU seconds so far (/proc/stat), 0 if unknown."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def jvm_times_ms(spark) -> dict[str, int]:
    """JIT compilation and garbage-collection milliseconds so far in the
    driver JVM (its management beans)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "jit": mf.getCompilationMXBean().getTotalCompilationTime(),
        "gc": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())),
    }


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants
    (the Spark JVM and its Python workers), from /proc."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(f[1])
        cpu[int(d)] = int(f[11]) + int(f[12])
    mine, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in mine:
                mine.add(c)
                frontier.append(c)
    return sum(cpu.get(p, 0) for p in mine) / os.sysconf("SC_CLK_TCK")


def _pids() -> list[int | str]:
    """This process and the Spark driver JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return ["self"] + ([proc.pid] if proc is not None else [])


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of both processes, so
    the peak read at the window's end belongs to the window: input
    generation before it and the answer checks after it do not count."""
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark driver JVM."""
    return sum(_hwm_kb(pid) for pid in _pids()) / 1024.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def plan_phases_ms(df) -> dict[str, int]:
    """Catalyst phase durations Spark tracked for ``df``'s execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        if o.isDefined():
            out[k] = int(o.get().durationMs())
    return out


def request_layers(ctx: Ctx, parent: str) -> None:
    """Per-request layer medians over the traced spans named ``parent``
    (a dashboard request, an ingest fresh read): catalog, build, plan,
    execution."""
    spans = ctx.tracer.spans
    per: dict[int, dict[str, float]] = {
        s.sid: {"op": s.end - s.start} for s in spans if s.name == parent
    }
    plan_ms = []
    for s in spans:
        if s.parent in per:
            per[s.parent][s.name] = s.end - s.start
            if s.name == "spark.plan":
                plan_ms.append(sum(s.attrs.get("phases_ms", {}).values()))

    def med_ms(name):
        return median([r[name] for r in per.values() if name in r]) * 1e3

    ctx.layers["catalog.resolve_ms"] = med_ms("catalog.resolve")
    ctx.layers["catalog.resolve_share"] = median(
        [r["catalog.resolve"] / r["op"] for r in per.values() if "catalog.resolve" in r]
    )
    ctx.layers["api.build_ms"] = med_ms("api.build")
    ctx.layers["sqlcompat.sql_ms"] = med_ms("sqlcompat.sql")
    ctx.layers["spark.plan_ms"] = median(plan_ms)
    ctx.layers["exec.collect_ms"] = med_ms("exec.collect")
