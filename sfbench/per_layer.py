"""Per-layer metrics of a traced run, from spans and Spark status stores.

Layers are named after the package's modules; each metric notes in
``README.md`` which end-to-end metric it should move.
"""

from __future__ import annotations

import os
import time
from statistics import mean

import pyarrow.parquet as pq

import tracing
from tools.scaling_bench import host_fault_mbps
from tracing import median as p50
from workload import SET_OPS
from search_engine_trec_fair_ranking_19_spark.analysis.tokenizer import analyze_query
from search_engine_trec_fair_ranking_19_spark.functions import codec

UNITS = {
    "session.start_s": "s",
    "analysis.query_s": "s",
    "build.doc_ids_s": "s",
    "build.postings_s": "s",
    "build.vocabulary_s": "s",
    "build.doc_stats_s": "s",
    "build.python_udf_s": "s",
    "build.shuffle_write_bytes": "B",
    "build.spill_bytes": "B",
    "build.tasks": "count",
    "build.python_init_s": "s",
    "build.docs_per_s": "1/s",
    "build.index_bytes_per_text_byte": "ratio",
    "build.n_postings": "count",
    "build.payload_bytes": "B",
    "codec.decode_postings_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "query.bm25_p50_s": "s",
    "query.wand_p50_s": "s",
    "query.vsm_p50_s": "s",
    "query.set_p50_s": "s",
    "query.tail_s": "s",
    "query.samples": "count",
    "query.prepare_s": "s",
    "query.driver_s": "s",
    "query.spark_job_s": "s",
    "query.python_udf_s": "s",
    "query.jobs_per_query": "count",
    "query.stages_per_query": "count",
    "query.tasks_per_query": "count",
    "query.postings_decoded_per_result": "ratio",
    "query.wand_route_share": "ratio",
    "eval.rank_s": "s",
    "eval.judge_s": "s",
    "eval.jobs": "count",
    "eval.shuffle_bytes": "B",
    "eval.python_udf_s": "s",
    "ingest.docs_per_s": "1/s",
    "ingest.read_after_write_s": "s",
    "ingest.bytes_written_per_text_byte": "ratio",
    "ingest.postings_files": "count",
    "ingest.cache_fill_s": "s",
    "ingest.warm_query_p50_s": "s",
    "compact.seconds": "s",
    "compact.bytes_rewritten": "B",
    "table_io.bytes_written": "B",
    "table_io.files_written": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.cpu_busy_frac": "ratio",
    "mem.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
    "host.fault_mbps": "MB/s",
    "host.cpu_steal_frac": "ratio",
}

CORES = 4
# operation kinds the run times (warm-ups are not)
TIMED_KINDS = ("bm25_topk", "bm25_topk_wand", "vsm_topk", "existential",
               "conjunctive", "batch", "build", "ingest", "raw",
               "warm_after_write", "compact")


def _codec_rates(postings_dir: str, min_s: float = 0.3) -> tuple[float, float]:
    """(decoded, encoded) postings per second of the ``functions.codec``
    batch kernels on the index's own posting blocks, in this process."""
    import numpy as np

    t = pq.read_table(postings_dir, columns=["df", "gaps", "tfs", "dls"])
    streams = []
    for col in ("gaps", "tfs", "dls"):
        vals = t[col].to_pylist()
        offs = np.zeros(len(vals) + 1, dtype=np.int64)
        np.cumsum([len(v) for v in vals], out=offs[1:])
        streams += [b"".join(vals), offs]
    n_postings = int(sum(t["df"].to_pylist()))

    def rate(fn) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            out = fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return n * n_postings / dt, out

    dec, (docids, tfs, dls, voff) = rate(lambda: codec.decode_blocks_concat(*streams))
    enc, _ = rate(lambda: codec.encode_blocks_concat(docids, tfs, dls, voff))
    return dec, enc


def _by_rid(spans: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s["rid"], []).append(s)
    return out


def _coverage(spans: list[dict], kinds) -> float:
    """Share of the timed operations' wall time that package-layer spans
    (children of the benchmark's ``op.*`` spans) account for."""
    wall = covered = 0.0
    for rid_spans in _by_rid(spans).values():
        top = [s for s in rid_spans if s["parent"] is None]
        if not top or top[0].get("kind") not in kinds:
            continue
        op = top[0]
        wall += op["end"] - op["start"]
        covered += (op["end"] - op["start"]) - tracing.self_times(rid_spans)[op["id"]]
    return covered / wall if wall else 0.0


def metrics(run) -> dict:
    spans = run.tracer.spans
    by_rid = _by_rid(spans)
    c = run.counters
    traced = [r for r in run.single if r.traced]
    untraced = [r for r in run.single if not r.traced]
    df, n_docs = run.oracle.df, run.oracle.n_docs

    def per_query(fn):
        return [fn(r) for r in traced]

    def span_total(rid: str, name: str) -> float:
        return tracing.total_by_name(by_rid.get(rid, [])).get(name, (0.0, 0))[0]

    def span_self(rid: str, name: str) -> float:
        return tracing.self_time_by_name(by_rid.get(rid, [])).get(name, 0.0)

    sum_dfs = per_query(lambda r: sum(df.get(t, 0) for t in analyze_query(r.text)))
    n_results = per_query(lambda r: len(r.got) if isinstance(r.got, list) else 0)
    wand = [r for r in traced if r.op == "bm25_topk_wand"]
    tail_pct, tail = tracing.tail_percentile([r.seconds for r in run.single])
    run.context.update({
        "query.tail_pct": tail_pct,
        "query.sum_df_frac": p50(sum_dfs) / n_docs,
    })
    m = run.manifest
    bc = c[run.build_group]
    ec: dict = {}
    for g in run.batch_groups:
        tracing.add_counters(ec, c[g])
    rank_s = sum(span_total(g, "eval.bm25_topk_batch") for g in run.batch_groups)
    writes = [g for g in c.values() if "bytes_written" in g]
    timed = [v for g, v in c.items() if g.rsplit("-", 1)[0] in TIMED_KINDS]
    spark_tot: dict = {}
    for v in timed:
        tracing.add_counters(spark_tot, v)
    dec, enc = _codec_rates(os.path.join(run.base_dir, "postings"))

    return {
        "session.start_s": run.session_s,
        "analysis.query_s": p50(
            per_query(lambda r: span_self(r.group, "analysis.expand_query"))),
        "build.doc_ids_s": m["doc_ids"]["seconds"],
        "build.postings_s": m["postings"]["seconds"],
        "build.vocabulary_s": m["vocabulary"]["seconds"],
        "build.doc_stats_s": m["doc_stats"]["seconds"],
        "build.python_udf_s": bc["py_run_s"],
        "build.python_init_s": bc["py_start_s"] + bc["py_init_s"],
        "build.docs_per_s": run.oracle.n_docs / run.build_s,
        "build.index_bytes_per_text_byte": run.index_bytes / run.base["text_bytes"],
        "build.shuffle_write_bytes": bc["shuffle_write_bytes"],
        "build.spill_bytes": bc["spill_bytes"],
        "build.tasks": bc["tasks"],
        "build.n_postings": m["postings"]["n_postings"],
        "build.payload_bytes": m["postings"]["encoded_payload_bytes"],
        "codec.decode_postings_per_s": dec,
        "codec.encode_postings_per_s": enc,
        "query.bm25_p50_s": run.op_p50(("bm25_topk",)),
        "query.wand_p50_s": run.op_p50(("bm25_topk_wand",)),
        "query.vsm_p50_s": run.op_p50(("vsm_topk",)),
        "query.set_p50_s": run.op_p50(SET_OPS),
        "query.tail_s": tail,
        "query.samples": len(run.single),
        "query.prepare_s": p50(
            per_query(lambda r: span_total(r.group, "query.prepare_query"))),
        "query.driver_s": p50(per_query(lambda r: r.seconds - c[r.group]["job_s"])),
        "query.spark_job_s": p50(per_query(lambda r: c[r.group]["job_s"])),
        "query.python_udf_s": p50(per_query(lambda r: c[r.group]["py_run_s"])),
        "query.jobs_per_query": mean(per_query(lambda r: c[r.group]["jobs"])),
        "query.stages_per_query": mean(per_query(lambda r: c[r.group]["stages"])),
        "query.tasks_per_query": mean(per_query(lambda r: c[r.group]["tasks"])),
        "query.postings_decoded_per_result": sum(sum_dfs) / max(1, sum(n_results)),
        "query.wand_route_share":
            sum(1 for r in wand if "fallback" not in r.stats) / max(1, len(wand)),
        "eval.rank_s": rank_s,
        "eval.judge_s": sum(run.batch_s) - rank_s,
        "eval.jobs": ec["jobs"],
        "eval.shuffle_bytes": ec["shuffle_write_bytes"],
        "eval.python_udf_s": ec["py_run_s"],
        "ingest.docs_per_s": len(run.append["docs"]) / run.ingest_s,
        "ingest.read_after_write_s": run.raw_s,
        "ingest.bytes_written_per_text_byte":
            c[run.ingest_group]["bytes_written"] / run.append["text_bytes"],
        "ingest.postings_files": run.postings_files,
        "ingest.cache_fill_s": run.raw_s - p50(run.warm_after_write),
        "ingest.warm_query_p50_s": p50(run.warm_after_write),
        "compact.seconds": run.compact_s,
        "compact.bytes_rewritten": c[run.compact_group]["bytes_written"],
        "table_io.bytes_written": sum(g["bytes_written"] for g in writes),
        "table_io.files_written": sum(g["files_written"] for g in writes),
        "spark.jobs": spark_tot["jobs"],
        "spark.tasks": spark_tot["tasks"],
        "spark.executor_run_s": spark_tot["run_s"],
        "spark.executor_cpu_s": spark_tot["cpu_s"],
        "spark.gc_s": spark_tot["gc_s"],
        "spark.shuffle_write_bytes": spark_tot["shuffle_write_bytes"],
        "spark.spill_bytes": spark_tot["spill_bytes"],
        "spark.cpu_busy_frac":
            spark_tot["cpu_s"] / (CORES * sum(v["wall_s"] for v in timed)),
        "mem.peak_rss_mb": run.rss.peak / 1e6,
        "trace.overhead_frac":
            p50([r.seconds for r in traced]) / p50([r.seconds for r in untraced]) - 1.0,
        "trace.coverage_frac": _coverage(spans, TIMED_KINDS),
        "host.fault_mbps": host_fault_mbps(64),
        "host.cpu_steal_frac": tracing.steal_frac(run.cpu_start, tracing.cpu_times()),
    }
