"""Traced-run instrumentation: spans around the engine's public calls and
Spark's per-op counters.

Spans are wrapped from here, never from program code: :func:`install`
replaces each listed function or method with a timing wrapper in every
loaded module that refers to it (so ``from x import f`` copies are
covered too), and :func:`uninstall` puts the originals back. Spans are
kept in memory as (name, start, end, parent, op) records and written out
at the end of the run.

Spark counters come from the JVM status store, read by job group right
after each op: every op runs under its own group, so its jobs are found by
group and not by position in the retained-jobs list, and every job id
since the previous read must still be in the store (a gap means the store
evicted jobs, and the counters would undercount).
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import dataclass

#: (module, attribute path) of every public call the traced run times
TARGETS = (
    ("simple_map_reduce_spark.engine", "MapleJuice.sql"),
    ("simple_map_reduce_spark.engine", "MapleJuice.maple"),
    ("simple_map_reduce_spark.engine", "MapleJuice.juice"),
    ("simple_map_reduce_spark.plans.sql", "parse"),
    ("simple_map_reduce_spark.plans.sql", "run"),
    ("simple_map_reduce_spark.operators.maple_juice", "maple"),
    ("simple_map_reduce_spark.operators.maple_juice", "juice"),
    ("simple_map_reduce_spark.catalog", "Catalog.put"),
    ("simple_map_reduce_spark.catalog", "Catalog.get"),
    ("simple_map_reduce_spark.catalog", "Catalog.append"),
    ("simple_map_reduce_spark.catalog", "Catalog.get_bucketed"),
    ("simple_map_reduce_spark.catalog", "Catalog.append_bucketed"),
    ("simple_map_reduce_spark.operators.similarity", "IvfIndex.build"),
    ("simple_map_reduce_spark.operators.similarity", "IvfIndex.search_ids"),
    ("simple_map_reduce_spark.operators.similarity", "IvfIndex.ingest"),
    ("simple_map_reduce_spark.operators.retrieval", "Bm25Index.build"),
    ("simple_map_reduce_spark.operators.retrieval", "Bm25Index.search"),
    ("simple_map_reduce_spark.operators.retrieval", "Bm25Index.ingest"),
    ("simple_map_reduce_spark.pipelines", "pretraining_manifest"),
    ("simple_map_reduce_spark.operators.graph", "connected_components"),
    ("simple_map_reduce_spark.operators.dedup", "minhash_dup_pairs"),
    ("simple_map_reduce_spark.operators.packing", "chunk_assignment_sharded"),
    ("simple_map_reduce_spark.operators.sampling", "split_assign"),
    ("simple_map_reduce_spark.sources.readers", "load_table"),
    ("simple_map_reduce_spark.session", "get_session"),
    ("simple_map_reduce_spark.cache", "tracked_persist"),
    ("simple_map_reduce_spark.cache", "release_tracked"),
)
PACKAGE = "simple_map_reduce_spark."
#: the benchmark's own span around materializing a lazy result
FORCE = "bench.force"


def span_name(module: str, attr: str) -> str:
    """``simple_map_reduce_spark.sources.readers`` + ``load_table`` →
    ``sources.load_table`` (sub-package modules keep their package name,
    ``plans.sql`` and ``operators.*`` keep their module)."""
    mod = module[len(PACKAGE):]
    if mod.startswith("sources."):
        mod = "sources"
    return f"{mod}.{attr}"


SPAN_NAMES = tuple(span_name(m, a) for m, a in TARGETS) + (FORCE,)
#: spans both workloads run; the per-layer result carries their self
#: time (a span a workload never runs would report a constant zero time,
#: so the others' self times are on the traced run's detail line only)
SHARED_SPANS = (
    "catalog.Catalog.put",
    "catalog.Catalog.get",
    "sources.load_table",
    "session.get_session",
    "cache.tracked_persist",
    FORCE,
)
SPARK_COUNTERS = (
    ("jobs_per_op", "count"),
    ("stages_per_op", "count"),
    ("tasks_per_op", "count"),
    ("driver_s", "s"),
    ("task_busy_s", "s"),
    ("task_cpu_s", "s"),
    ("occupancy", "frac"),
    ("shuffle_bytes", "bytes"),
    ("input_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("failed_tasks", "count"),
    ("job_id_gaps", "count"),
)


def per_layer_units() -> dict[str, str]:
    """Name → unit of every per-layer metric, in report order."""
    units = {f"spark.{n}": u for n, u in SPARK_COUNTERS}
    for s in SPAN_NAMES:
        if s in SHARED_SPANS:
            units[f"{s}.self_s"] = "s"
        units[f"{s}.calls"] = "count"
        units[f"{s}.jobs"] = "count"
    units.update({
        "cache.release_tracked.released": "count",
        "catalog.files": "count",
        "catalog.bytes": "bytes",
        "ingest.admitted_frac": "frac",
        "trace.overhead_s": "s",
        "trace.overhead_frac": "frac",
    })
    return units


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into the span list, -1 for a root
    op: str
    result: object = None  # return value kept only for counting wrappers


class Tracer:
    """In-memory span recorder; ``active`` gates recording so wrappers
    stay installed but cost one attribute check when off."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.active = False
        self.op = ""
        #: seconds spent recording spans: the cost tracing adds inside ops
        self.overhead = 0.0

    def span(self, name: str):
        return _SpanCtx(self, name)

    def open(self, name: str) -> int:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.overhead += time.perf_counter() - t0
        return idx

    def close(self, idx: int, result=None) -> None:
        t0 = time.perf_counter()
        self.spans[idx].end = time.time()
        self.spans[idx].result = result
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        self.overhead += time.perf_counter() - t0

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                keep = result if isinstance(result, int) and not isinstance(result, bool) else None
                tracer.close(idx, keep)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "op": s.op}
                    )
                    + "\n"
                )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, -1

    def __enter__(self):
        if self.tracer.active:
            self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer.close(self.idx)
        return False


def install(tracer: Tracer) -> list[tuple]:
    """Wrap every target; returns the undo list for :func:`uninstall`."""
    import importlib

    undo = []
    for module, attr in TARGETS:
        mod = importlib.import_module(module)
        name = span_name(module, attr)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            orig = cls.__dict__[meth]
            setattr(cls, meth, tracer.wrap(name, orig))
            undo.append((cls, meth, orig))
            continue
        orig = getattr(mod, attr)
        wrapped = tracer.wrap(name, orig)
        # every module-level alias of the function (``from m import f``)
        for m in list(sys.modules.values()):
            if m is None or not getattr(m, "__name__", "").startswith(PACKAGE[:-1]):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, wrapped)
                    undo.append((m, k, orig))
    return undo


def uninstall(undo: list[tuple]) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the time its direct children cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent >= 0:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return [
        max(0.0, (s.end - s.start) - union_length(children.get(i, [])))
        for i, s in enumerate(spans)
    ]


def innermost_span(spans: list[Span], t: float, op: str) -> int:
    """Index of the innermost span of ``op`` open at time ``t`` (-1 if
    none); a span opened later than its parent is nested in it, so the
    open span with the latest start is the innermost."""
    best, best_start = -1, float("-inf")
    for i, s in enumerate(spans):
        if s.op == op and s.start - 0.001 <= t <= s.end and s.start > best_start:
            best, best_start = i, s.start
    return best


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    task_cpu_s: float = 0.0
    job_active_s: float = 0.0
    driver_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    gaps: int = 0
    #: job submission times (s), for span attribution
    job_times: tuple = ()


class SparkCounters:
    """Reads the status store's job and stage records through py4j as
    JSON (one call per list, not one per field)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.last_job = self._max_job_id()

    def _jobs(self) -> list[dict]:
        return json.loads(self.mapper.writeValueAsString(self.store.jobsList(None)))

    def _stages(self) -> list[dict]:
        return json.loads(
            self.mapper.writeValueAsString(
                self.store.stageList(None, False, False, self._no_quantiles, None)
            )
        )

    def _max_job_id(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def sync(self) -> None:
        """Mark every job so far as seen (call before the first op)."""
        self.last_job = self._max_job_id()

    def read_op(self, group: str, start: float, end: float) -> OpCounters:
        retained = self._jobs()
        jobs = [j for j in retained if j.get("jobGroup") == group]
        c = OpCounters()
        # every job id since the last read must still be in the store (a
        # job between ops belongs to no op but is no gap; an evicted one is)
        ids = {j["jobId"] for j in retained}
        newest = max(ids, default=self.last_job)
        c.gaps = len(set(range(self.last_job + 1, newest + 1)) - ids)
        self.last_job = max(self.last_job, newest)
        c.jobs = len(jobs)
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        intervals = []
        for j in jobs:
            sub = j.get("submissionTime")
            done = j.get("completionTime") or int(end * 1000)
            if sub is not None:
                intervals.append((max(start, sub / 1000.0), min(end, done / 1000.0)))
        c.job_times = tuple(sorted(j["submissionTime"] / 1000.0 for j in jobs if j.get("submissionTime")))
        c.job_active_s = union_length(intervals)
        c.driver_s = max(0.0, (end - start) - c.job_active_s)
        for s in self._stages():
            if s["stageId"] not in stage_ids or s.get("status") == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            c.failed_tasks += s.get("numFailedTasks", 0)
            c.task_busy_s += s.get("executorRunTime", 0) / 1000.0
            c.task_cpu_s += s.get("executorCpuTime", 0) / 1e9
            c.shuffle_bytes += s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
            c.input_bytes += s.get("inputBytes", 0)
            c.spill_bytes += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        return c
