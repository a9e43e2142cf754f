"""The benchmark's workloads. Each drives the engine's public API from one
client in a closed loop: ``setup`` builds the serving state, ``prepare``
warms up and runs the correctness checks that need their own execution,
``cycle`` is one pass over the workload's op mix, ``verify`` checks what
the timed ops returned."""

from __future__ import annotations

import os
import statistics
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from . import checks, gen, stats
from .harness import Ctx, Window, dir_stats

REGISTRY_JOBS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "topk_customers",
    "window_running",
    "events_windowed",
    "sales_rollup",
)


def _wc_map(lines):
    import re

    counts: dict[str, int] = {}
    for line in lines:
        for w in re.findall(r"\w+", line.lower()):
            counts[w] = counts.get(w, 0) + 1
    for w, c in counts.items():
        yield w, str(c)


def _wc_reduce(key, values):
    yield key, str(sum(int(v) for v in values))


def _group_map(lines, priority):
    # orders line: key,cust,status,price,date,priority
    for line in lines:
        parts = line.split(",")
        if len(parts) == 6 and parts[5] == priority:
            yield "all", parts[2]


def _group_reduce(key, values):
    counts = Counter(values)
    total = sum(counts.values())
    for status, cnt in counts.items():
        yield status, f"{cnt},{cnt * 100.0 / total:.2f}%"


class BatchJobs:
    """The reference's own surface (SQL filter and join, maple/juice
    wordcount and filter/group/percent), seven registry queries whose rows
    the client fetches, and the pretraining manifest over the generated
    corpus, in a seeded order per cycle. Requests are the eleven jobs;
    the bulk op is the manifest."""

    name = "batch_jobs"
    setup_reps = 3
    #: pipeline corpus size per unit of --scale: 20k documents at sf0.1
    corpus_docs_per_scale = 200_000

    def __init__(self, ctx: Ctx, inputs: gen.BatchInputs):
        from simple_map_reduce_spark import MapleJuice

        self.ctx, self.inp = ctx, inputs
        self.mj = MapleJuice(ctx.spark, os.path.join(ctx.work, "engine"))
        self.regex = checks.filter_regex(inputs.regex_digits, inputs.regex_segment)
        #: job → the pandas frame its last timed run returned
        self.results: dict[str, object] = {}

    def setup(self) -> None:
        d = self.inp.data_dir
        self.mj.put(os.path.join(d, "customer.parquet"), "customer", fmt="parquet")
        self.mj.put(os.path.join(d, "orders.parquet"), "orders", fmt="parquet")
        self.mj.put(self.inp.orders_txt, "ordlines", fmt="text")
        self.mj.put(self.inp.docs_txt, "doclines", fmt="text")

    # -- the jobs ----------------------------------------------------------
    def _job(self, name: str):
        """The callable of job ``name``; its stored or returned output is
        what the checks read."""
        ctx, mj, inp = self.ctx, self.mj, self.inp
        n = ctx.cores
        if name == "sql_filter":
            return lambda: mj.sql(f"SELECT ALL FROM customer WHERE {self.regex}")
        if name == "sql_join":
            return lambda: mj.sql(
                "SELECT ALL FROM orders customer WHERE orders.o_custkey = customer.c_custkey"
            )
        if name == "wordcount":
            def wc():
                mj.maple(_wc_map, n, "wckv", "doclines")
                return mj.juice(_wc_reduce, n, "wckv", "wc_out", delete=True)
            return wc
        if name == "filter_group_pct":
            def gp():
                mj.maple(_group_map, n, "gpkv", "ordlines", args=(inp.group_priority,))
                return mj.juice(_group_reduce, n, "gpkv", "gp_out", delete=True)
            return gp
        from simple_map_reduce_spark.queries import QUERIES

        q = QUERIES[name]
        src = inp.corpus_dir if name == "pretraining_manifest" else inp.data_dir

        def fetch():
            # the client takes the rows as an Arrow-backed pandas frame
            return ctx.force(q(ctx.spark, src).toPandas)

        return fetch

    def prepare(self) -> None:
        """Untimed: start the Python workers maple/juice reuse, as a
        long-lived session has them, while a thread computes every DuckDB
        oracle of the run, so no check competes with a timed op."""
        ctx = self.ctx
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracles = pool.submit(self._oracles)
            with ctx.step("python_workers"):
                ctx.spark.range(ctx.cores * 4, numPartitions=ctx.cores).mapInPandas(
                    lambda it: it, "id long"
                ).collect()
            with ctx.step("oracle_wait"):
                self.want = oracles.result()

    def cycle(self, window: Window, i: int) -> None:
        ctx = self.ctx
        for name in self.inp.orders[i % len(self.inp.orders)]:
            bulk = name == "pretraining_manifest"
            out = ctx.run_op(window, name, "bulk" if bulk else "request", self._job(name),
                             docs=len(self.inp.corpus.ids) if bulk else 0)
            if out is not None and (bulk or name in REGISTRY_JOBS):
                self.results[name] = out
        files, size = dir_stats(self.mj.catalog.root)
        ctx.gauges["catalog.files"], ctx.gauges["catalog.bytes"] = float(files), float(size)

    # -- correctness ------------------------------------------------------
    def _oracles(self) -> dict[str, tuple[int, str]]:
        """Digests of every DuckDB oracle this workload checks against."""
        from simple_map_reduce_spark.queries import ORACLES

        inp, want = self.inp, {}
        with checks.duck(inp.data_dir, threads=self.ctx.cores) as con:
            for name in REGISTRY_JOBS:
                want[name] = checks.duck_digest(con, ORACLES[name])
            want["sql_filter"] = checks.duck_digest(con, checks.filter_oracle(self.regex))
            want["sql_join"] = checks.duck_digest(con, checks.JOIN_ORACLE)
            want["wordcount"] = checks.duck_digest(con, checks.WORDCOUNT_ORACLE)
            want["filter_group_pct"] = checks.duck_digest(
                con, checks.group_pct_oracle(inp.group_priority)
            )
        return want

    def _verdict(self, kind, got, want) -> None:
        self.ctx.check(kind, got == want, f"{kind}: spark {got[0]} rows vs oracle {want[0]} rows")

    def verify(self, window: Window) -> None:
        """The timed jobs' outputs against their DuckDB oracles — the
        registry queries' returned rows and the engine jobs' stored
        tables — and the timed manifest against the generator's ground
        truth (its DuckDB oracle costs ~7 s per 500 documents)."""
        from simple_map_reduce_spark.queries_ext import SPLIT_FRACTIONS

        ctx, mj = self.ctx, self.mj

        def compare(kind, digest_of):
            try:
                self._verdict(kind, digest_of(), self.want[kind])
            except Exception as e:  # a missing output is a wrong answer
                ctx.check(kind, False, f"{kind}: {type(e).__name__}: {e}")

        for name in REGISTRY_JOBS:
            if name in self.results:
                pdf = self.results[name]
                compare(name, lambda: checks.digest(checks.frame_rows(pdf), list(pdf.columns)))
        compare("sql_filter", lambda: checks.digest(
            [(int(r.value.split(",")[0]),) for r in mj.get("customer_filter").collect()],
            ["c_custkey"]))
        cols = ["o_orderkey", "o_custkey", "c_custkey", "c_mktsegment"]
        compare("sql_join", lambda: checks.spark_digest(
            mj.get("orders_customer_join").select(*cols).collect(), cols))
        for kind, out in (("wordcount", "wc_out"), ("filter_group_pct", "gp_out")):
            compare(kind, lambda: checks.spark_digest(mj.get(out).collect(), ["key", "value"]))
        if "pretraining_manifest" in self.results:
            pdf = self.results["pretraining_manifest"]
            rows = [dict(zip(pdf.columns, r)) for r in checks.frame_rows(pdf)]
            problems = checks.manifest_problems(rows, self.inp.corpus, SPLIT_FRACTIONS)
            ctx.check("pretraining_manifest", not problems, "; ".join(problems))

    def detail(self, window: Window) -> dict[str, tuple[float, str]]:
        jobs = window.secs("request")
        man = window.secs("bulk")
        d = {}
        if jobs:
            d["job_p50_s"] = (statistics.median(jobs), "s")
            d["jobs_per_min"] = (60.0 * stats.rate(len(jobs), sum(jobs)), "1/min")
        if man:
            d["manifest_p50_s"] = (statistics.median(man), "s")
            d["manifest_docs_per_s"] = (
                stats.rate(len(man) * len(self.inp.corpus.ids), sum(man)), "docs/s"
            )
        return d


class IngestServe:
    """Standing IVF and BM25 indexes over a seeded half of the sf-sized
    embeddings/documents, built during set-up. Each cycle ingests the
    next seeded batch into both indexes (the bulk op) and then serves an
    equal mix of read requests: ``search_ids`` with 5 ids and ``search``
    with 3 keyword queries. Reads collect their rows, as a serving client
    would."""

    name = "ingest_serve"
    setup_reps = 1
    reads_per_cycle = 6
    ivf_tau = 0.9

    def __init__(self, ctx: Ctx, inputs: gen.ServeInputs):
        from simple_map_reduce_spark.sources.readers import load_table

        self.ctx, self.inp = ctx, inputs
        self.docs = load_table(ctx.spark, inputs.data_dir, "documents")
        self.emb = load_table(ctx.spark, inputs.data_dir, "embeddings")
        self.next_read = 0
        self.ingested = 0
        self.offered = self.admitted = 0
        self.bm_ids = set(int(i) for i in inputs.base_doc_ids)
        self.ivf_ids = set(int(i) for i in inputs.base_vec_ids)
        self.input_bytes = inputs.base_bytes
        #: (kind, arg, rows, (bm ids, ivf ids)) of every timed read
        self.served: list[tuple] = []

    def setup(self) -> None:
        from simple_map_reduce_spark import Bm25Index, Catalog, IvfIndex
        from simple_map_reduce_spark.queries_ext import SIM_IVF_CENTROIDS, SIM_IVF_NPROBE
        from simple_map_reduce_spark.sources.readers import load_table

        ctx, d = self.ctx, self.inp.data_dir
        self.cat = Catalog(ctx.spark, os.path.join(ctx.work, "indexes"))
        self.ivf = IvfIndex(self.cat, "ivf", n_centroids=SIM_IVF_CENTROIDS, nprobe=SIM_IVF_NPROBE)
        self.bm = Bm25Index(self.cat, "bm")
        self.ivf.build(load_table(ctx.spark, d, "emb_base"))
        self.bm.build(load_table(ctx.spark, d, "docs_base"))

    def prepare(self) -> None:
        """Warm-up, untimed: one read of each kind, so the timed reads do
        not pay their plans' first-run compilation."""
        for _ in range(2):
            kind, arg = self.inp.reads[self.next_read]
            self.next_read += 1
            self._read(kind, arg)()

    # -- ops -------------------------------------------------------------------
    def _read(self, kind: str, arg):
        ctx = self.ctx
        if kind == "search_ids":
            return lambda: ctx.force(lambda: self.ivf.search_ids(arg, k=5).collect())
        return lambda: ctx.force(lambda: self.bm.search(arg, k=10).collect())

    def _ingest(self, b: int):
        from simple_map_reduce_spark.sources.readers import load_table

        if b >= len(self.inp.batches):
            raise RuntimeError("ingest batches exhausted; generate more batches")
        bd, bv, dn, vn = self.inp.batches[b]
        docs = load_table(self.ctx.spark, self.inp.data_dir, dn)
        emb = load_table(self.ctx.spark, self.inp.data_dir, vn)

        def run():
            n_bm = self.bm.ingest(docs)
            report = self.ctx.force(lambda: self.ivf.ingest(emb, self.ivf_tau).collect())
            return n_bm, report

        return run, bd, bv

    def cycle(self, window: Window, i: int) -> None:
        ctx = self.ctx
        b = self.ingested
        run, bd, bv = self._ingest(b)
        out = ctx.run_op(window, "ingest", "bulk", run, docs=len(bd) + len(bv))
        self.ingested += 1
        if out is not None:
            self._admit(out, bd, bv, b)
        files, size = dir_stats(self.cat.root)
        ctx.gauges["catalog.files"], ctx.gauges["catalog.bytes"] = float(files), float(size)
        for _ in range(self.reads_per_cycle):
            kind, arg = self.inp.reads[self.next_read % len(self.inp.reads)]
            self.next_read += 1
            rows = ctx.run_op(window, kind, "request", self._read(kind, arg))
            if rows is not None:
                self.served.append((kind, arg, rows, (frozenset(self.bm_ids), frozenset(self.ivf_ids))))

    def _admit(self, out, bd, bv, b: int) -> None:
        """Track what an ingest admitted: BM25 admits every new document,
        IVF drops the vectors its near-dup gate reports."""
        n_bm, report = out
        rejected = {int(r["vec_id"]) for r in report}
        admitted_v = [int(x) for x in bv if int(x) not in rejected]
        self.bm_ids.update(int(x) for x in bd)
        self.ivf_ids.update(admitted_v)
        self.offered += len(bd) + len(bv)
        self.admitted += n_bm + len(admitted_v)
        self.input_bytes += self.inp.batch_bytes[b]

    # -- twin checks -----------------------------------------------------------
    def _ids_df(self, ids, col: str):
        return self.ctx.spark.createDataFrame([(int(i),) for i in sorted(ids)], f"{col} bigint")

    def _matches_twin(self, kind, arg, rows, state, cents) -> bool:
        from pyspark.sql import functions as F
        from simple_map_reduce_spark.operators.retrieval import bm25_topk
        from simple_map_reduce_spark.operators.similarity import cosine_topk_ivf
        from simple_map_reduce_spark.queries_ext import SIM_IVF_NPROBE

        bm_ids, ivf_ids = state
        if kind == "search_ids":
            emb = self.emb.join(F.broadcast(self._ids_df(ivf_ids, "vec_id")), "vec_id")
            want = cosine_topk_ivf(emb, arg, k=5, nprobe=SIM_IVF_NPROBE, centroids=cents)
        else:
            docs = self.docs.join(F.broadcast(self._ids_df(bm_ids, "doc_id")), "doc_id")
            want = bm25_topk(docs, arg, k=10)
        return sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))

    def verify(self, window: Window) -> None:
        """Compare the last read of each kind, served after the last
        ingest, with its recompute twin over the corpus the index held:
        an index grown by ingests must answer like one built at once."""
        from simple_map_reduce_spark.cache import release_tracked

        ctx = self.ctx
        cents = self.cat.get(self.ivf.centroids_table)
        last = {kind: (arg, rows, state) for kind, arg, rows, state in self.served}
        for kind, (arg, rows, state) in sorted(last.items()):
            with ctx.step(f"twin_{kind}"):
                try:
                    ok, why = self._matches_twin(kind, arg, rows, state, cents), "differs from"
                except Exception as e:  # a twin the program cannot run is a failure too
                    ok, why = False, f"{type(e).__name__}: {e}; vs"
            ctx.check(kind, ok, f"{kind} {arg}: index read {why} its recompute twin")
            release_tracked()
        ctx.gauges["ingest.admitted_frac"] = stats.rate(self.admitted, self.offered)

    def detail(self, window: Window) -> dict[str, tuple[float, str]]:
        reads = window.secs("request")
        ing = [o for o in window.ops if o.cls == "bulk" and o.ok]
        d = {}
        if reads:
            d["read_p50_s"] = (statistics.median(reads), "s")
            p90 = stats.tail_percentile(reads, 90)
            if p90 is not None:
                d["read_p90_s"] = (p90, "s")
            d["reads_per_s"] = (stats.rate(len(reads), sum(reads)), "1/s")
        if ing:
            d["ingest_p50_s"] = (statistics.median([o.secs for o in ing]), "s")
            d["ingested_docs_per_s"] = (
                stats.rate(sum(o.docs for o in ing), sum(o.secs for o in ing)), "docs/s"
            )
        _, size = dir_stats(self.cat.root)
        d["stored_bytes_per_input_byte"] = (size / self.input_bytes, "ratio")
        return d


WORKLOADS = {"batch_jobs": BatchJobs, "ingest_serve": IngestServe}
