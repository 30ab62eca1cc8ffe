"""In-memory span tracer plus Spark counters read from the status store.

A span is ``(id, name, parent, op, start, end, attrs)``. Opening a span tags
the calling thread's Spark jobs with a job group unique to that span
(``SparkContext.setJobGroup``), so once the run ends the jobs Spark
recorded in ``sc._jsc.sc().statusStore()`` can be joined back to the span
that launched them. Nothing is read from the status store while the clock
runs: ``spark_jobs`` walks it once, after the measured window.

Untraced code gets ``OFF`` instead, whose spans do nothing and set no job
group, so the untraced path does exactly the engine's work.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        """Open a span under the thread's current one. ``op`` (request or
        batch id) is inherited from the parent when not given."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(
            sid, name, parent.sid if parent else None,
            op if op is not None else (parent.op if parent else None),
            time.perf_counter(), attrs=dict(attrs),
        )
        stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, inclusive and self milliseconds (self =
        duration minus the durations of direct children)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s.name, {"n": 0, "total_ms": 0.0, "self_ms": 0.0})
            d["n"] += 1
            d["total_ms"] += (s.end - s.start) * 1e3
            d["self_ms"] += (s.end - s.start - child[s.sid]) * 1e3
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": [asdict(s) for s in sorted(self.spans, key=lambda s: s.sid)],
                 "self_times": self.self_times(), **extra},
                fh, indent=1, default=str,
            )


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


class _Off:
    """Tracer stand-in for an untraced op."""

    def span(self, *a, **k):
        return _NULL


_NULL = _Null()
OFF = _Off()


# --- Spark counters ---------------------------------------------------------

_MODULE_RE = re.compile(r"((?:data_lake_spark|perfbench|tests)/[\w/]+)\.py")


def call_site_module(name: str) -> str:
    """Repo module named in a job's call site, ``java`` for a JVM call
    site, ``unattributed`` when Spark recorded none."""
    m = _MODULE_RE.search(name or "")
    if m:
        return m.group(1).replace("/", ".")
    if ".java" in (name or "") or ".scala" in (name or ""):
        return "java"
    return "unattributed"


def _opt(o):
    return o.get() if o.isDefined() else None


def spark_jobs(sc) -> list[dict]:
    """Every job the status store holds, each with the summed counters of
    the stages it ran. A stage shared by several jobs (a reused shuffle)
    is charged to the first job only."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    stages: dict[int, dict] = {}
    seq = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    for i in range(seq.size()):
        s = seq.apply(i)
        d = stages.setdefault(
            s.stageId(),
            {"tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
             "shuffle_write_b": 0, "spill_b": 0},
        )
        d["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        d["run_ms"] += s.executorRunTime()
        d["cpu_ms"] += s.executorCpuTime() / 1e6
        d["gc_ms"] += s.jvmGcTime()
        d["shuffle_write_b"] += s.shuffleWriteBytes()
        d["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        sub = _opt(j.submissionTime())
        ids = j.stageIds()
        jobs.append({
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "name": j.name(),
            "submitted_ms": sub.getTime() if sub is not None else None,
            "stage_ids": [ids.apply(k) for k in range(ids.size())],
        })
    jobs.sort(key=lambda x: x["job_id"])
    charged: set[int] = set()
    for job in jobs:
        tot = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
               "shuffle_write_b": 0, "spill_b": 0}
        for sid in job["stage_ids"]:
            if sid in charged or sid not in stages:
                continue
            charged.add(sid)
            tot["stages"] += 1
            for k, v in stages[sid].items():
                tot[k] += v
        job.update(tot)
        job["module"] = call_site_module(job["name"])
    return jobs


def summarize_jobs(jobs: list[dict], wall_s: float, cores: int) -> dict:
    """Run-level Spark counters over ``jobs``."""
    run_ms = sum(j["run_ms"] for j in jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.exec_run_ms": run_ms,
        "spark.exec_cpu_ms": sum(j["cpu_ms"] for j in jobs),
        "spark.gc_ms": sum(j["gc_ms"] for j in jobs),
        "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 2**20,
        "spark.spill_mb": sum(j["spill_b"] for j in jobs) / 2**20,
        "spark.busy_ratio": run_ms / 1e3 / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.unattributed_job_share": (
            sum(1 for j in jobs if j["group"] is None) / len(jobs) if jobs else 0.0
        ),
    }


def by_module(jobs: list[dict]) -> dict[str, dict]:
    """Counters split by the repo module of each job's call site."""
    out: dict[str, dict] = {}
    for j in jobs:
        d = out.setdefault(j["module"], {"jobs": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0})
        d["jobs"] += 1
        d["tasks"] += j["tasks"]
        d["run_ms"] += j["run_ms"]
        d["cpu_ms"] += j["cpu_ms"]
    return out


def attach(tracer: Tracer, jobs: list[dict]) -> None:
    """Charge each job's counters to the span whose group launched it."""
    by_group = defaultdict(list)
    for j in jobs:
        if j["group"]:
            by_group[j["group"]].append(j)
    for s in tracer.spans:
        js = by_group.get(s.group, [])
        s.attrs["spark"] = {
            "jobs": len(js),
            "tasks": sum(j["tasks"] for j in js),
            "run_ms": sum(j["run_ms"] for j in js),
            "cpu_ms": round(sum(j["cpu_ms"] for j in js), 3),
        }
