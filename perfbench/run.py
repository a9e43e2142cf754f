#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. Makes the inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts a Spark
session on ``local[<cores>]``, sets up, runs the correctness checks and
the timed window, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``). A line before
it, prefixed ``detail:``, carries the per-workload figures behind them.
Exits non-zero without a result when the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="input scale factor (0.1 = sf0.1 tables, 50k-doc corpus)")
    return p.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Keep every file the JVM and Python write inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed, pre-touched driver heap: with a growable one, G1's sizing
    # decisions alone moved the JVM's peak RSS by a third between runs
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = tmp


def _descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child process of
    this run has ended."""
    from pyspark import SparkContext

    children = _descendants(os.getpid())
    try:
        spark.stop()
    except Exception:
        pass
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        if gw is not None:
            gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = {p for p in children if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.2)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "simple_map_reduce_spark")):
        print("perfbench: simple_map_reduce_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, stats
    from perfbench.harness import Ctx, cores
    from perfbench.trace import per_layer_units
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    n_cores = cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, n_cores)

    phases = {}
    t_gen = time.perf_counter()
    cls = WORKLOADS[args.workload]
    if cls is WORKLOADS["batch_jobs"]:
        corpus_docs = max(400, int(cls.corpus_docs_per_scale * args.scale))
        inputs = gen.batch_inputs(os.path.join(work, "inputs"), args.seed, args.scale, corpus_docs)
    else:
        inputs = gen.serve_inputs(os.path.join(work, "inputs"), args.seed, args.scale)

    phases["gen_s"] = time.perf_counter() - t_gen

    ctx = Ctx(work, bool(args.trace))
    spark = ctx.start_session()
    try:
        wl = cls(ctx, inputs)
        ctx.setup(wl.setup_reps, wl.setup)
        t = time.perf_counter()
        wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t
        t = time.perf_counter()
        window = ctx.timed_window(args.seconds, wl.cycle, traced=bool(args.trace))
        phases["window_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.verify(window)
        phases["verify_s"] = time.perf_counter() - t

        # a class with no successful op reads 0; its failures are counted
        req, bulk = window.secs("request"), window.secs("bulk")
        docs = sum(o.docs for o in window.ops if o.cls == "bulk" and o.ok)
        e2e = {
            "setup_s": (ctx.setup_s(), "s"),
            "request_p50_s": (statistics.median(req) if req else 0.0, "s"),
            "requests_per_min": (60.0 * stats.rate(len(req), sum(req)), "1/min"),
            "bulk_op_s": (statistics.median(bulk) if bulk else 0.0, "s"),
            "bulk_docs_per_s": (stats.rate(docs, sum(bulk)), "docs/s"),
            "peak_rss_mb": (ctx.peak_rss_mb(), "MB"),
        }
        attempted = len(window.ops)
        failed = ctx.failed(window)
        detail = {**e2e, **wl.detail(window), "failed_ops_frac": (failed / max(1, attempted), "frac")}
        if args.trace:
            metrics = ctx.layer_metrics(window)
            out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in per_layer_units().items()}
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
            detail["spans"] = span_table(metrics)
        else:
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        errors = sorted({o.error for o in window.ops if o.error})
        print("detail: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "cores": n_cores,
            "cycles": window.cycles, "samples": {"request": len(req), "bulk": len(bulk)},
            "session_s": ctx.session_s, "phases_s": phases, "steps_s": ctx.steps,
            "setup_reps_s": ctx.setup_times,
            "metrics": detail,
            "check_failures": ctx.check_failures, "op_errors": errors[:5],
            "ops": [(o.kind, round(o.secs, 4), o.ok) for o in window.ops],
        }))
        result = {
            "correct": not ctx.check_failures and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": out_metrics,
        }
    finally:
        from perfbench.trace import uninstall

        uninstall(ctx.undo)
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def span_table(m: dict[str, float]) -> dict[str, list[float]]:
    """Span name → [calls, self_s, jobs] for every span the traced run
    entered, including the self times the per-layer list leaves out."""
    names = sorted({k.rsplit(".", 1)[0] for k in m if k.endswith(".calls")})
    return {
        n: [round(m[f"{n}.calls"], 3), round(m[f"{n}.self_s"], 4), round(m[f"{n}.jobs"], 3)]
        for n in names
        if m[f"{n}.calls"]
    }


if __name__ == "__main__":
    sys.exit(main())
