"""One benchmark run: seeded inputs, timed phases, oracle checks, metrics.

Phases, in order. Checks run after the session ends and count in no
metric.

  1. session start (``get_spark``, ``local[4]``)
  2. ``build_index`` of the base corpus, the first build in the process as
     an index-build job runs it
  3. index open, ``SETUP_REPS`` times on fresh handles (``setup_s``)
  4. one untimed call per query operation (plan shapes, cache fill, the
     decode UDF's Python workers) and ``WARMUP_QUERIES`` more, then single
     top-k queries in a closed loop for ``--seconds`` seconds
     (``latency_p50_s``)
  5. an untimed one-query ``evaluate_batch``, then ``BATCH_CALLS`` calls
     over ``BATCH_SIZE`` judged queries each (``batch_queries_per_s``)

A traced run adds the write path, whose single-sample timings are too
noisy to bound (see README.md), so it is measured as per-layer metrics:

  6. ``ingest_batch`` of ``N_APPEND`` new documents, the first query on the
     returned handle (read your writes) and warm queries on it
  7. ``compact_index``

Each Spark call runs under its own job group, so a traced run can join
Spark's per-job counters to the span around the call.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from typing import NamedTuple

import numpy as np

import checks
import corpus
import tracing
from search_engine_trec_fair_ranking_19_spark import session as session_mod
from search_engine_trec_fair_ranking_19_spark.config import DEFAULT_CONFIG
from search_engine_trec_fair_ranking_19_spark.operators import evaluate
from search_engine_trec_fair_ranking_19_spark.operators import index_build
from search_engine_trec_fair_ranking_19_spark.operators import query
from search_engine_trec_fair_ranking_19_spark.sources import table_io
from search_engine_trec_fair_ranking_19_spark.streaming import incremental
from tools.scaling_bench import host_fault_mbps

N_BASE = 2500  # documents in the base corpus
N_APPEND = 300  # documents appended by ingest_batch
WARM_QUERIES_AFTER_WRITE = 1
BATCH_CALLS = 3  # timed evaluate_batch calls ...
BATCH_SIZE = 5  # ... over this many judged queries (3-5 terms) each
N_POOL = 100  # single-query pool; the timed loop walks it in order
K = 10
SETUP_REPS = 3
# untimed queries after the first call of each operation: the JVM keeps
# compiling the query path for the first dozen or so calls
WARMUP_QUERIES = 4
# single-query operations, cycled in this order: 40% exhaustive BM25, 20%
# the WAND router, 20% VSM, 10% each boolean model. A fixed cycle keeps the
# mix identical in every run, whatever the number of queries.
OP_CYCLE = (
    "bm25_topk", "bm25_topk_wand", "vsm_topk", "bm25_topk", "existential",
    "bm25_topk", "bm25_topk_wand", "vsm_topk", "bm25_topk", "conjunctive",
)
SET_OPS = ("existential", "conjunctive")

END_TO_END = {  # name → unit; the same set BENCHMARK.json declares
    "setup_s": "s",
    "latency_p50_s": "s",
    "batch_queries_per_s": "1/s",
}

# (module or class, attribute, span name) wrapped in traced runs
TRACED_CALLS = (
    (session_mod, "get_spark", "session.get_spark"),
    (query, "expand_query", "analysis.expand_query"),
    (query, "prepare_query", "query.prepare_query"),
    (query, "bm25_topk", "query.bm25_topk"),
    (query, "bm25_topk_wand", "query.bm25_topk_wand"),
    (query, "vsm_topk", "query.vsm_topk"),
    (query, "existential", "query.existential"),
    (query, "conjunctive", "query.conjunctive"),
    (evaluate, "evaluate_batch", "eval.evaluate_batch"),
    (evaluate, "bm25_topk_batch", "eval.bm25_topk_batch"),
    (index_build, "build_index", "build.build_index"),
    (index_build.IndexTables, "vocab_map", "index.vocab_map"),
    (index_build.IndexTables, "collection_stats", "index.collection_stats"),
    (incremental, "ingest_batch", "ingest.ingest_batch"),
    (incremental, "compact_index", "compact.compact_index"),
    (table_io.ParquetDirIO, "overwrite", "table_io.overwrite"),
    (table_io.ParquetDirIO, "append", "table_io.append"),
)


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM has exited is
    re-parented here, so :func:`stop_spark` can wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then its gateway JVM, and reap every process the
    run started (the JVM, its Python workers). Processes still running
    after ``timeout`` seconds get SIGKILL."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):  # the JVM may be gone already
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            # the gateway JVM exits when its stdin closes
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        _reap_children(timeout)


def _reap_children(timeout: float) -> None:
    """Wait until this process has no children left, reaping each; SIGKILL
    whatever still runs after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children at all
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in tracing.descendants(os.getpid()):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.02)


class Query(NamedTuple):
    """One timed single-query call."""

    op: str
    text: str
    got: object  # [(docid, score)], or the exception the call raised
    seconds: float
    traced: bool
    group: str  # Spark job group, also the span request id
    stats: dict | None  # WAND route label (traced WAND calls only)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        if workload not in corpus.QUERY_CLASSES:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.run_dir = os.path.join(work, "runs", f"{workload}_s{seed}_{os.getpid()}")
        self.base_dir = os.path.join(self.run_dir, "base")
        self.tracer = tracing.Tracer(enabled=trace)
        self.attempted = 0
        self.failures: list[str] = []
        self.counters: dict[str, dict] = {}  # job group → Spark counters
        self._group_n = 0
        self._t0 = time.perf_counter()
        self.phase_end: dict[str, float] = {}  # phase → seconds since start
        self.context: dict = {}  # run facts that are not metrics, for the record
        self.cpu_start = tracing.cpu_times()

    # ------------------------------------------------------------------ util

    def _log(self, what: str) -> None:
        print(f"[sfbench {time.perf_counter() - self._t0:6.1f}s] {what}",
              file=sys.stderr, flush=True)

    def _fail(self, what: str, err: str | None) -> None:
        if err is not None:
            self.failures.append(f"{what}: {err}")

    def _op(self, kind: str, fn, *a, **kw):
        """Run one Spark-backed operation under its own job group and span;
        returns (result, seconds, group)."""
        self._group_n += 1
        group = f"{kind}-{self._group_n}"
        self.stores.set_group(group)
        self.attempted += 1
        with self.tracer.span("op." + kind, rid=group) as rec:
            t0 = time.perf_counter()
            out = fn(*a, **kw)
            dt = time.perf_counter() - t0
        if rec is not None:  # traced: read this group's Spark counters
            rec["kind"] = kind
            self.counters[group] = self.stores.group_counters(group)
            self.counters[group]["wall_s"] = dt
        return out, dt, group

    def _write_op(self, kind: str, fn, *a):
        """:meth:`_op` for a call that writes the base index; traced runs
        also record the bytes and files it wrote."""
        before = tracing.dir_files(self.base_dir) if self.trace else {}
        out, dt, group = self._op(kind, fn, *a)
        if group in self.counters:
            b, n = tracing.written_since(before, tracing.dir_files(self.base_dir))
            self.counters[group].update(bytes_written=b, files_written=n)
        return out, dt, group

    # ----------------------------------------------------------------- inputs

    def _inputs(self) -> None:
        self.base = corpus.write_corpus(self.work, self.seed, N_BASE)
        self.append = corpus.write_corpus(
            self.work, self.seed, N_APPEND, serial0=N_BASE, tag="a"
        ) if self.trace else None
        docs = [tuple(d) for d in self.base["docs"]]
        key = f"{self.base['sha256'][:16]}_{corpus.source_hash(checks.ORACLE_SOURCES)}"
        self.oracle = checks.oracle_index(
            os.path.join(self.work, "oracle", f"s{self.seed}_n{N_BASE}_{key}.pickle"),
            docs,
        )
        rng = np.random.default_rng(
            [self.seed, corpus.QUERY_CLASSES.index(self.workload)])
        df = self.oracle.df
        pool = corpus.make_queries(rng, docs, df, self.workload, N_POOL, (2, 3))
        self.pool = [(OP_CYCLE[i % len(OP_CYCLE)], q) for i, (q, _) in enumerate(pool)]
        batch = corpus.make_queries(
            rng, docs, df, self.workload, BATCH_CALLS * BATCH_SIZE, (3, 5))
        self.batch = [(i + 1, q) for i, (q, _) in enumerate(batch)]
        judged = corpus.make_judgments(
            rng, [src for _, src in batch], [u for u, _ in docs])
        self.judgments = {qid: j for (qid, _), j in zip(self.batch, judged)}

    # ----------------------------------------------------------------- phases

    def _start(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("op.session", rid="session"):
            self.spark = session_mod.get_spark(
                app_name="sfbench",
                master="local[4]",
                extra_conf={
                    "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.stores = tracing.SparkStores(self.spark)

    def _read(self, meta: dict):
        return self.spark.read.parquet(meta["path"])

    def _check_collection(self, what: str, tables, want: dict) -> None:
        got_df = {
            r["term"]: int(r["df"])
            for r in tables.vocabulary(self.spark).collect()
        }
        self._fail(what, checks.compare_collection(
            got_df, tables.collection_stats(self.spark), want))
        tables.refresh()

    def _build(self) -> None:
        tables, self.build_s, self.build_group = self._write_op(
            "build", index_build.build_index, self.spark,
            self._read(self.base), self.base_dir)
        self.index_bytes = sum(
            size for size, _ in tracing.dir_files(self.base_dir).values())
        self.manifest = tables.manifest()["stages"]
        self._check_collection(
            "build", tables, checks.collection_answer(self.oracle, []))

    def _open(self) -> None:
        """Open the base index on a fresh handle and load what every query
        reads on the driver (collection stats, the vocabulary map);
        ``SETUP_REPS`` times. The cached tables fill on first use."""
        times, tables = [], None
        for rep in range(SETUP_REPS):
            if tables is not None:
                tables.refresh()
            t0 = time.perf_counter()
            with self.tracer.span("op.open", rid=f"open-{rep}"):
                tables = index_build.IndexTables(self.base_dir, DEFAULT_CONFIG)
                tables.collection_stats(self.spark)
                tables.vocab_map(self.spark)
            times.append(time.perf_counter() - t0)
        self.setup_s = tracing.median(times)
        self.tables = tables

    def _single(self) -> None:
        def call(op, q, stats=None):
            kw = {"k": K}
            if stats is not None:  # WAND route label; no extra job on fallback
                kw["stats"] = stats
            try:
                rows = getattr(query, op)(self.spark, self.tables, q, **kw).collect()
            except Exception as e:  # a failing query is counted, not fatal
                return e
            return [(r["docid"], r["score"]) for r in rows]

        for op in sorted(set(OP_CYCLE)):
            self._op("warmup", call, op, self.pool[0][1])
        for op, q in self.pool[-WARMUP_QUERIES:]:
            self._op("warmup", call, op, q)
        # in a traced run every other query runs with spans off, so the run
        # measures its own tracing overhead. The loop runs until the queries
        # themselves took --seconds, so a traced run (which reads Spark's
        # counters between queries) makes as many queries as an untraced one.
        self.single = []
        busy = 0.0
        while busy < self.seconds:
            op, q = self.pool[len(self.single) % len(self.pool)]
            traced = self.trace and len(self.single) % 2 == 0
            stats = {} if traced and op == "bm25_topk_wand" else None
            self.tracer.enabled = traced
            got, dt, group = self._op(op, call, op, q, stats)
            self.tracer.enabled = self.trace
            self.single.append(Query(op, q, got, dt, traced, group, stats))
            busy += dt

    def _batch(self) -> None:
        qid, q = self.batch[0]
        self._op("warmup", evaluate.evaluate_batch, self.spark, self.tables,
                 [(qid, q)], {qid: self.judgments[qid]})
        def call(queries):
            try:
                per_query, _ = evaluate.evaluate_batch(
                    self.spark, self.tables, queries,
                    {qid: self.judgments[qid] for qid, _ in queries})
            except Exception as e:  # counted as missing rows by the checks
                self.failures.append(f"evaluate_batch raised {e!r}"[:500])
                return []
            return per_query.collect()

        self.batch_s, self.batch_groups, self.batch_rows = [], [], []
        for i in range(0, len(self.batch), BATCH_SIZE):
            rows, dt, group = self._op("batch", call, self.batch[i : i + BATCH_SIZE])
            self.batch_s.append(dt)
            self.batch_groups.append(group)
            self.batch_rows += rows
        self.tables.refresh()

    def _ingest(self) -> None:
        tables, self.ingest_s, self.ingest_group = self._write_op(
            "ingest", incremental.ingest_batch, self.spark,
            self._read(self.append), self.base_dir)
        self.postings_files = len(
            tracing.dir_files(os.path.join(self.base_dir, "postings")))
        # read your writes: one appended doc's hapax token must return that
        # doc, at the docid ingest assigns it (after the base corpus, in url
        # order within the batch)
        docs = self.append["docs"]
        url, text = docs[len(docs) // 2]
        hapax = text.split()[-1]
        want = [N_BASE + sorted(u for u, _ in docs).index(url) + 1]

        def call():
            rows = query.bm25_topk(self.spark, tables, hapax, k=K).collect()
            return [r["docid"] for r in rows]

        self.warm_after_write = []
        for w in range(1 + WARM_QUERIES_AFTER_WRITE):
            got, dt, _ = self._op("raw" if w == 0 else "warm_after_write", call)
            if w == 0:
                self.raw_s = dt
            else:
                self.warm_after_write.append(dt)
            if got != want:
                self.failures.append(f"read-your-writes: got {got} want {want}")
        tables.refresh()

    def _compact(self) -> None:
        tables, self.compact_s, self.compact_group = self._write_op(
            "compact", incremental.compact_index, self.spark, self.base_dir)
        self._check_collection(
            "after compaction", tables,
            checks.collection_answer(
                self.oracle, [tuple(d) for d in self.append["docs"]]))

    # ----------------------------------------------------------------- checks

    def _check_outputs(self) -> None:
        for op, q, got, *_ in self.single:
            if isinstance(got, Exception):
                self.failures.append(f"{op}({q!r}) raised {got!r}"[:500])
                continue
            self._fail(f"{op}({q!r})", checks.compare_topk(
                got, checks.expected_topk(self.oracle, op, q, K)))
        rows = {r["qid"]: r for r in self.batch_rows}
        for qid, q in self.batch:
            r = rows.get(qid)
            if r is None:
                self.failures.append(f"evaluate_batch: qid {qid} missing")
                continue
            ap, nd = checks.expected_eval(self.oracle, q, self.judgments[qid])
            self._fail(f"AP({q!r})", checks.compare_metric(float(r["avep"]), ap))
            self._fail(f"nDCG({q!r})", checks.compare_metric(float(r["ndcg"]), nd))

    # ---------------------------------------------------------------- metrics

    def op_p50(self, ops) -> float:
        return tracing.median([r.seconds for r in self.single if r.op in ops])

    def _end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "latency_p50_s": tracing.median([r.seconds for r in self.single]),
            "batch_queries_per_s":
                tracing.median([BATCH_SIZE / dt for dt in self.batch_s]),
        }

    # ------------------------------------------------------------------- run

    def execute(self) -> dict:
        import per_layer

        shutil.rmtree(os.path.join(self.work, "runs"), ignore_errors=True)
        os.makedirs(self.run_dir)
        self._inputs()
        self._log("inputs ready")
        if self.trace:
            for target, attr, name in TRACED_CALLS:
                self.tracer.wrap(target, attr, name)
        steps = (
            (self._start, "session started"),
            (self._build, "index built"),
            (self._open, "index opened"),
            (self._single, "single queries done"),
            (self._batch, "batch evaluation done"),
        )
        if self.trace:
            steps += ((self._ingest, "ingest done"), (self._compact, "compaction done"))
        try:
            # the RSS sampler's /proc scans hold the driver's GIL, so only
            # traced runs (which report memory) start it
            with tracing.RssSampler(enabled=self.trace) as self.rss:
                try:
                    for step, what in steps:
                        step()
                        self.phase_end[what] = time.perf_counter() - self._t0
                        self._log(what)
                    self.stores.clear_group()
                    layers = per_layer.metrics(self) if self.trace else None
                finally:
                    stop_spark(getattr(self, "spark", None))
        finally:
            self.tracer.unwrap_all()
        self._check_outputs()
        self._log(f"checks done: {len(self.single)} single queries, "
                  f"{len(self.failures)} failures")
        if self.trace:
            cov = layers["trace.coverage_frac"]
            self._log(f"layer spans cover {cov:.1%} of the timed operations' "
                      f"wall time ({'at least' if cov >= 0.9 else 'under'} 90%)")
        metrics = layers if self.trace else self._end_to_end()
        units = per_layer.UNITS if self.trace else END_TO_END
        out = {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": min(len(self.failures), self.attempted),
            "metrics": {
                k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
            },
        }
        self._write_record(out)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        return out

    def _write_record(self, out: dict) -> None:
        """Run record (and, traced, the spans and Spark counters) under
        ``<work>/records`` or ``<work>/traces``."""
        rec = {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "corpus_sha256": self.base["sha256"],
            "append_sha256": self.append and self.append["sha256"],
            "single": [(r.op, r.seconds) for r in self.single],
            "batch_s": self.batch_s,
            "phase_end_s": self.phase_end,
            "context": self.context,
            "cpu_steal_frac": tracing.steal_frac(self.cpu_start, tracing.cpu_times()),
            "host_fault_mbps": host_fault_mbps(64),
            "failures": self.failures[:50],
            "result": out,
        }
        if self.trace:
            rec["self_time_by_span"] = tracing.self_time_by_name(self.tracer.spans)
            rec["spans"] = self.tracer.spans
            rec["spark_counters"] = self.counters
        d = os.path.join(self.work, "traces" if self.trace else "records")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{self.workload}_s{self.seed}.json"), "w") as f:
            json.dump(rec, f, indent=1, default=str)
