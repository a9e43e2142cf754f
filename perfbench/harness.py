"""The closed-loop harness shared by every workload: session start, timed
ops under their own Spark job group, the timed window, traced-run
bookkeeping and the metric records."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from .trace import FORCE, SPAN_NAMES, OpCounters, SparkCounters, Tracer, innermost_span, self_times


@dataclass
class Op:
    kind: str  # e.g. "q1_pricing_summary", "search_ids", "ingest"
    cls: str  # "request" or "bulk"
    secs: float
    ok: bool
    error: str = ""
    docs: int = 0
    group: str = ""
    counters: OpCounters | None = None
    #: seconds the op spent recording spans (traced ops)
    trace_s: float = 0.0


@dataclass
class Window:
    traced: bool
    ops: list[Op] = field(default_factory=list)
    cycles: int = 0
    start: float = 0.0
    end: float = 0.0

    def secs(self, cls: str) -> list[float]:
        return [o.secs for o in self.ops if o.cls == cls and o.ok]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def vm_hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes of all files) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += n.startswith("part-")
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Ctx:
    """One benchmark run: owns the session, the tracer and the op log."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.cores = cores()
        self.tracer = Tracer()
        self.undo: list = []
        self.spark = None
        self.counters: SparkCounters | None = None
        self.n_ops = 0
        self.session_s = 0.0
        self.setup_times: list[float] = []
        self.setup_counters: list[OpCounters] = []
        self.check_failures: dict[str, list[str]] = {}
        self.gauges: dict[str, float] = {"ingest.admitted_frac": 0.0}
        #: untimed step durations (checks, warm-up), for the detail line
        self.steps: dict[str, float] = {}

    # -- session -------------------------------------------------------
    def start_session(self):
        if self.trace:
            from .trace import install

            self.undo = install(self.tracer)
            self.tracer.active = True
            self.tracer.op = "setup"
        from simple_map_reduce_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.counters = SparkCounters(self.spark)
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        return (vm_hwm_bytes(os.getpid()) + vm_hwm_bytes(self.jvm_pid())) / 2**20

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)
        self.tracer.op = name

    def setup(self, reps: int, fn) -> None:
        """Run the workload's set-up ``reps`` times (each rep replaces the
        previous state); setup_s is session start plus the median rep."""
        for r in range(reps):
            group = f"setup{r}"
            self.group(group)
            if self.counters is not None:
                self.counters.sync()
            w0, t0 = time.time(), time.perf_counter()
            fn()
            self.setup_times.append(time.perf_counter() - t0)
            if self.counters is not None:
                self.setup_counters.append(
                    self.counters.read_op(group, w0, time.time())
                )
        self.group("prepare")
        self.tracer.active = False

    # -- ops -------------------------------------------------------------
    def force(self, fn):
        """Materialize a lazy result inside the ``bench.force`` span."""
        with self.tracer.span(FORCE):
            return fn()

    def run_op(self, window: Window, kind: str, cls: str, fn, docs: int = 0):
        """Run one timed op; a raised error counts as a failed op and the
        run goes on. Returns the op's result (None on failure)."""
        from simple_map_reduce_spark.cache import release_tracked

        self.n_ops += 1
        group = f"op{self.n_ops}-{kind}"
        self.group(group)
        result, ok, err = None, True, ""
        traced_before = self.tracer.overhead
        w0, t0 = time.time(), time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # a failed op is a measured outcome
            ok, err = False, f"{type(e).__name__}: {e}"[:300]
            traceback.print_exc(file=sys.stderr)
        secs = time.perf_counter() - t0
        w1 = time.time()
        op = Op(kind, cls, secs, ok, err, docs, group, trace_s=self.tracer.overhead - traced_before)
        if window.traced:
            op.counters = self.counters.read_op(group, w0, w1)
        window.ops.append(op)
        self.group("between-ops")
        release_tracked()
        return result

    def timed_window(self, seconds: float, cycle_fn, traced: bool = False) -> Window:
        """Closed loop: run whole cycles; start another only while it is
        expected to end within ``seconds`` (at least one cycle)."""
        window = Window(traced=traced)
        self.tracer.active = traced
        if traced:
            self.counters.sync()
        window.start = time.time()
        start, last = time.perf_counter(), 0.0
        while window.cycles == 0 or (time.perf_counter() - start) + last <= seconds:
            c0 = time.perf_counter()
            cycle_fn(window, window.cycles)
            window.cycles += 1
            last = time.perf_counter() - c0
        window.end = time.time()
        self.tracer.active = False
        self.group("verify")
        return window

    def step(self, name: str):
        """Context manager recording an untimed step's duration."""
        ctx = self

        class _Step:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *exc):
                ctx.steps[name] = ctx.steps.get(name, 0.0) + time.perf_counter() - self.t0
                return False

        return _Step()

    def check(self, kind: str, ok: bool, detail: str = "") -> None:
        """Record a correctness verdict for every op of ``kind``."""
        if not ok:
            self.check_failures.setdefault(kind, []).append(detail[:300])

    # -- results -----------------------------------------------------------
    def failed(self, window: Window) -> int:
        return sum(1 for o in window.ops if not o.ok or o.kind in self.check_failures)

    def setup_s(self) -> float:
        return self.session_s + statistics.median(self.setup_times)

    def layer_metrics(self, window: Window) -> dict[str, float]:
        """Per-layer metrics of a traced window. Spans are summed over the
        window per cycle, plus the set-up spans per set-up repetition; Spark
        counters are means per timed op."""
        spans = self.tracer.spans
        selfs = self_times(spans)
        per_cycle = 1.0 / max(1, window.cycles)
        per_setup = 1.0 / max(1, len(self.setup_times))
        ops = [o for o in window.ops if o.counters is not None]
        weight = []
        for s in spans:
            if s.op == "setup":  # session start, once per run
                weight.append(1.0)
            elif s.op.startswith("setup"):
                weight.append(per_setup)
            elif window.start <= s.start <= window.end:
                weight.append(per_cycle)
            else:
                weight.append(0.0)

        # each job goes to the innermost span open at its submission, and
        # counts for that span and every enclosing one
        jobs_in = [0.0] * len(spans)
        groups = [(o.group, o.counters) for o in ops] + [
            (f"setup{r}", c) for r, c in enumerate(self.setup_counters)
        ]
        for group, c in groups:
            for t in c.job_times:
                j, seen = innermost_span(spans, t, group), set()
                while j >= 0:
                    if spans[j].name not in seen:  # a name counts once per job
                        jobs_in[j] += 1
                        seen.add(spans[j].name)
                    j = spans[j].parent

        m: dict[str, float] = {}
        for name in SPAN_NAMES:
            m[f"{name}.calls"] = 0.0
            m[f"{name}.self_s"] = 0.0
            m[f"{name}.jobs"] = 0.0
        released = 0.0
        for i, s in enumerate(spans):
            w = weight[i]
            if w == 0.0:
                continue
            m[f"{s.name}.calls"] += w
            m[f"{s.name}.self_s"] += w * selfs[i]
            m[f"{s.name}.jobs"] += w * jobs_in[i]
            if s.name == "cache.release_tracked" and isinstance(s.result, int):
                released += w * s.result
        m["cache.release_tracked.released"] = released

        n = max(1, len(ops))
        tot = OpCounters()
        for o in ops:
            c = o.counters
            for f in ("jobs", "stages", "tasks", "failed_tasks", "task_busy_s", "task_cpu_s",
                      "job_active_s", "driver_s", "shuffle_bytes", "input_bytes", "spill_bytes", "gaps"):
                setattr(tot, f, getattr(tot, f) + getattr(c, f))
        m["spark.jobs_per_op"] = tot.jobs / n
        m["spark.stages_per_op"] = tot.stages / n
        m["spark.tasks_per_op"] = tot.tasks / n
        m["spark.driver_s"] = tot.driver_s / n
        m["spark.task_busy_s"] = tot.task_busy_s / n
        m["spark.task_cpu_s"] = tot.task_cpu_s / n
        m["spark.occupancy"] = (
            tot.task_busy_s / (tot.job_active_s * self.cores) if tot.job_active_s > 0 else 0.0
        )
        m["spark.shuffle_bytes"] = tot.shuffle_bytes / n
        m["spark.input_bytes"] = tot.input_bytes / n
        m["spark.spill_bytes"] = tot.spill_bytes / n
        m["spark.failed_tasks"] = float(tot.failed_tasks)
        m["spark.job_id_gaps"] = float(tot.gaps)
        m["trace.overhead_s"] = sum(o.trace_s for o in ops) / n
        busy = sum(o.secs for o in ops)
        m["trace.overhead_frac"] = sum(o.trace_s for o in ops) / busy if busy > 0 else 0.0
        m.update(self.gauges)
        return m
