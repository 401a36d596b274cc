"""Query-time retrieval — the Spark rebuild of `Search.search()` →
`Retrieval.getRankedResults()` (SURVEY.md §3.2).

Plan shape per query (one SQL statement + one Arrow decode UDF):

  postings blocks of the query terms (pushed IN filter; hex-literal terms)
  → decode blocks (vectorized pandas UDF) → explode (JVM)
  → per-(term,doc) score expression (whole-stage codegen): each model's
      formula is written once, as SQL text (`_bm25_contrib`, `_vsm_contrib`),
      and every single-query, batch and WAND plan renders it
  → groupBy(docid).agg(sum)  [sparse hash agg — replaces the reference's dense
      double[N] arrays, `OkapiBM25P.java:28-29,40-43`, impossible at 10^12 docs]
  → max-normalize → optional PageRank blend (`Retrieval.sort:71-116`)
  → orderBy(desc(score), asc(docid)).limit(k)   [TakeOrderedAndProject =
      per-partition bounded heap + driver merge; tie-break is rank-critical]

BM25+ (`OkapiBM25P.java:36-106`): every doc matching ≥1 term gets the constant
Σ_j idf_j (the δ=1 term for ALL query terms), plus idf_j·f_j(k1+1)/(f_j+B) for
matched terms. The constant is a driver-side scalar — no per-term work for
unmatched terms, exactly matching the reference's math.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.expansion import expand_query
from ..config import EngineConfig
from ..functions.codec import decode_blocks_concat
from ..oracle.engine import merge_terms
from ..session import _values_cell
from ..session import local_rows_df as _local_df
from .index_build import IndexTables

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("docid", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_DECODE_SCHEMA = "docids array<long>, tfs array<long>, dls array<long>"
_decode_udf_cached = None


def _decode_udf():
    """Block-decode pandas UDF (built lazily: registration needs a session)."""
    global _decode_udf_cached
    if _decode_udf_cached is None:

        def decode(gaps: pd.Series, tfs: pd.Series, dls: pd.Series) -> pd.DataFrame:
            if len(gaps) == 0:  # np.split(empty, []) would yield one row
                return pd.DataFrame({"docids": [], "tfs": [], "dls": []})
            # whole-batch decode: concat every block's buffer per stream and
            # run ONE vectorized varint+delta pass (decode_blocks_concat) —
            # no per-block Python beyond the C-speed join/len loop.
            def _offs(s: pd.Series) -> np.ndarray:
                off = np.zeros(len(s) + 1, dtype=np.int64)
                np.cumsum(
                    np.fromiter((len(b) for b in s), dtype=np.int64, count=len(s)),
                    out=off[1:],
                )
                return off

            docids, tf_arr, dl_arr, voff = decode_blocks_concat(
                b"".join(gaps), _offs(gaps),
                b"".join(tfs), _offs(tfs),
                b"".join(dls), _offs(dls),
            )
            cuts = voff[1:-1]
            return pd.DataFrame(
                {
                    "docids": np.split(docids, cuts),
                    "tfs": np.split(tf_arr, cuts),
                    "dls": np.split(dl_arr, cuts),
                }
            )

        _decode_udf_cached = F.pandas_udf(decode, _DECODE_SCHEMA)
    return _decode_udf_cached


_SQL_DECODE_NAME = "__themis_decode_blocks"


def _ensure_sql_decode(spark: SparkSession) -> None:
    """Register the block-decode pandas UDF for SQL use in ``spark``.

    Asks the live session's catalog rather than remembering past
    registrations: temporary functions belong to one session, and
    ``spark.newSession()`` shares the applicationId but not the function
    registry."""
    if not spark.catalog.functionExists(_SQL_DECODE_NAME):
        spark.udf.register(_SQL_DECODE_NAME, _decode_udf())


def _dbl(v: float) -> str:
    """Bit-exact SQL double literal."""
    return _values_cell(v, "DOUBLE")


def _bm25_contrib(
    tf: str, dl: str, weight: str, idf: str, config: EngineConfig, avgdl: float
) -> str:
    """SQL expression text of one posting's BM25+ contribution
    (`OkapiBM25P.java:67-88`) — the only place the formula is written.

    ``tf``, ``dl``, ``weight`` and ``idf`` are SQL expressions (columns or
    literal-map lookups). Every plan renders the same literals in the same
    order and associativity, so single-query, batch and WAND scores are
    bit-identical."""
    k1, b = config.bm25_k1, config.bm25_b
    f = f"({tf} * {weight})"
    norm = f"({_dbl(k1)} * ({_dbl(1.0 - b)} + {_dbl(b)} * {dl} / {_dbl(avgdl)}))"
    return f"{idf} * ({f} * {_dbl(k1 + 1.0)} / ({f} + {norm}))"


def _bm25_block_ub(weight: str, idf: str, config: EngineConfig, avgdl: float) -> str:
    """Upper bound of any posting's contribution in a block: the tf-term is
    monotone up in tf and down in dl, so the block's ``max_tf``/``min_dl``
    bound it; idf<0 makes every contribution negative, so 0 is a safe bound."""
    contrib = _bm25_contrib("max_tf", "min_dl", weight, idf, config, avgdl)
    return f"greatest({contrib}, {_dbl(0.0)})"


def _vsm_contrib(tf: str, max_tf: str, weight: str, idf: str, q_weight: str) -> str:
    """SQL expression text of one posting's term of the VSM dot product
    (`VSM.java:33-129`): doc weight (tf·weight/maxTF)·idf times the query
    weight — the only place it is written."""
    return f"{q_weight} * (({tf} * {weight} / {max_tf}) * {idf})"


def _vsm_cosine(dot: str, vsm_weight: str, q_norm: str) -> str:
    """Cosine from the dot product, in the oracle's association
    ``dot / (vsm_weight * q_norm)`` (`oracle/engine.py`)."""
    return f"{dot} / ({vsm_weight} * {q_norm})"


def _vsm_query_weights(pq: PreparedQuery) -> tuple[list[float], float]:
    """Per-term query weights (w/max_w)·idf and their Euclidean norm."""
    max_q_freq = max(w for _, w in pq.terms)
    q_weights = [(w / max_q_freq) * idf for (_, w), idf in zip(pq.terms, pq.idfs)]
    return q_weights, math.sqrt(sum(w * w for w in q_weights))


def _term_lookup(pq: PreparedQuery, values, term: str = "term") -> str:
    """``map(t1, v1, ...)[term]``: a per-query-term value as a SQL literal-map
    lookup.

    Query weights/idfs attach to postings as literal map lookups, not a
    broadcast join: a query has a handful of terms, so the lookup is a short
    constant-folded chain inside the scoring stage's codegen — no broadcast
    exchange, no extra Spark job per query (round-2 bench: ~4 jobs per query,
    one of which was exactly this build-and-broadcast). Terms are hex
    literals, so any term inlines, quotes and control characters included."""
    pairs = ", ".join(
        f"{_values_cell(t, 'STRING')}, {_dbl(v)}"
        for (t, _), v in zip(pq.terms, values)
    )
    return f"map({pairs})[{term}]"


def _posting_cte(
    spark: SparkSession, tables: IndexTables, pq: PreparedQuery, with_dl: bool
) -> str:
    """Decode CTE ``posting(term, docid, tf[, dl])`` over the query terms'
    blocks, for the single-statement SQL query paths."""
    _ensure_sql_decode(spark)
    in_list = ", ".join(_values_cell(t, "STRING") for t, _ in pq.terms)
    dl = ", d.d.dls[p.i] AS dl" if with_dl else ""
    return f"""
        WITH dec AS (
          SELECT term, {_SQL_DECODE_NAME}(gaps, tfs, dls) AS d
          FROM {tables.postings_view(spark)} WHERE term IN ({in_list})
        ),
        posting AS (
          SELECT term, p.docid AS docid, d.d.tfs[p.i] AS tf{dl}
          FROM dec d LATERAL VIEW posexplode(d.d.docids) p AS i, docid
        )"""


def _bm25_raw_sql(
    spark: SparkSession, tables: IndexTables, pq: PreparedQuery, config: EngineConfig
) -> DataFrame:
    """(docid, raw) BM25+ scores of one query as ONE ``spark.sql`` statement.

    Building the plan Column by Column costs ~260 Py4J round-trips
    (~0.2 s/query, more than the sf0.1 execution time of the query); one SQL
    string is one round-trip, and :func:`_finalize` adds the top-k."""
    contrib = _bm25_contrib(
        "tf", "dl", _term_lookup(pq, [w for _, w in pq.terms]),
        _term_lookup(pq, pq.idfs), config, pq.avgdl,
    )
    return spark.sql(
        f"""{_posting_cte(spark, tables, pq, with_dl=True)}
        SELECT docid, sum({contrib}) + {_dbl(sum(pq.idfs))} AS raw
        FROM posting GROUP BY docid"""
    )


def _vsm_raw_sql(
    spark: SparkSession, tables: IndexTables, pq: PreparedQuery
) -> DataFrame:
    """(docid, raw) VSM scores of one query as ONE ``spark.sql`` statement:
    posting ⋈ doc_stats for (max_tf, vsm_weight) (J3)."""
    q_weights, q_norm = _vsm_query_weights(pq)
    contrib = _vsm_contrib(
        "posting.tf", "s.max_tf",
        _term_lookup(pq, [w for _, w in pq.terms], "posting.term"),
        _term_lookup(pq, pq.idfs, "posting.term"),
        _term_lookup(pq, q_weights, "posting.term"),
    )
    raw = _vsm_cosine(f"sum({contrib})", "first(s.vsm_weight)", _dbl(q_norm))
    return spark.sql(
        f"""{_posting_cte(spark, tables, pq, with_dl=False)}
        SELECT posting.docid AS docid, {raw} AS raw
        FROM posting JOIN {tables.table_view(spark, "doc_stats")} s
          ON posting.docid = s.docid
        GROUP BY posting.docid"""
    )


def _wand_routed(pq: PreparedQuery, k: int, config: EngineConfig) -> bool:
    """Whether block-max WAND pays for this query (measured,
    BENCH/wand_crossover.json): BOTH the decode volume clears the crossover
    (Σ DF ≥ ``wand_min_postings``) AND the query is selective — its rare
    terms (df ≤ N/divisor) cover ≥ k docs, so θ can rise above common-only
    blocks' UB. Pure driver arithmetic on pq.dfs; threshold 0 forces WAND."""
    if config.wand_min_postings == 0:
        return True
    rare_df_max = max(1, pq.n_docs // max(config.wand_rare_df_divisor, 1))
    rare_cover = sum(df for df in pq.dfs if df <= rare_df_max)
    return sum(pq.dfs) >= config.wand_min_postings and rare_cover >= k


@dataclass
class PreparedQuery:
    """Analyzed query + vocabulary lookups (J1) — all driver-side, tiny."""

    terms: list[tuple[str, float]]  # merged (term, weight), first-occurrence order
    dfs: list[int]
    idfs: list[float]
    n_docs: int
    avgdl: float


def prepare_query(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    config: EngineConfig,
    expander=None,
) -> PreparedQuery:
    """Driver-side analyze (+ optional E1-E3 expansion) + vocabulary lookups."""
    stats = tables.collection_stats(spark)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    terms = merge_terms(
        expand_query(query, expander, config.use_stemmer, config.use_stopwords)
    )
    dfs_found: dict[str, int] = {}
    if terms:
        # J1: query terms ⋈ vocabulary. Fast path: the per-handle driver
        # vocab map (the reference's query-time HashMap) — zero Spark jobs
        # per query. Fallback (vocabulary too big for the driver): pushed IN
        # filter on the cached table; misses get DF=0
        # (`Indexer.getDFs:991-1005`).
        vm = tables.vocab_map(spark)
        if vm is not None:
            dfs_found = {t: vm[t] for t, _ in terms if t in vm}
        else:
            rows = (
                tables.vocabulary(spark)
                .filter(F.col("term").isin([t for t, _ in terms]))
                .collect()
            )
            dfs_found = {r["term"]: r["df"] for r in rows}
    dfs = [int(dfs_found.get(t, 0)) for t, _ in terms]
    idfs = [math.log(n_docs / (1.0 + df)) for df in dfs]
    return PreparedQuery(terms, dfs, idfs, n_docs, avgdl)


def decode_blocks(blocks: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Decode + explode posting-block rows to (*keep, term, docid, tf, dl).

    ``keep`` carries extra block-level columns (e.g. ``block_id`` for the
    batched WAND's per-(qid, block) survivor semi-join) through the explode."""
    dec = blocks.withColumn("dec", _decode_udf()("gaps", "tfs", "dls"))
    head = [*keep, "term"]
    return dec.select(
        *head,
        F.explode(
            F.arrays_zip(
                F.col("dec.docids").alias("docid"),
                F.col("dec.tfs").alias("tf"),
                F.col("dec.dls").alias("dl"),
            )
        ).alias("p"),
    ).select(
        *head,
        F.col("p.docid").alias("docid"),
        F.col("p.tf").alias("tf"),
        F.col("p.dl").alias("dl"),
    )


def matched_postings(
    spark: SparkSession, tables: IndexTables, terms: list[str]
) -> DataFrame:
    """J2: postings blocks of the query terms, decoded and exploded to
    (term, docid, tf, dl) rows."""
    return decode_blocks(tables.postings(spark).filter(F.col("term").isin(terms)))


def _finalize(
    spark: SparkSession,
    tables: IndexTables,
    raw_scores: DataFrame,  # (docid, raw)
    k: int | None,
    pagerank_weight: float,
) -> DataFrame:
    """Max-normalize, optional PageRank blend, tie-broken top-k
    (`Retrieval.sort:71-116`).

    Plan by case — no path ever collects an unbounded result set on the
    driver (a head term at web scale matches 10^9 docs):

    * bounded k, no blend: normalization is monotone, so the top-k ORDER
      (desc raw, asc docid) is the final order and max(raw) is the first
      collected row — ONE Spark job (TakeOrderedAndProject), division done on
      the k collected rows.
    * k=None (the reference's k=∞ evaluation path), no blend: scalar max agg
      (one job), then the division is applied DISTRIBUTEDLY and the sorted
      result is returned unmaterialized — the caller's action re-runs the
      (term-pruned) scoring scan; two distributed passes, zero driver
      materialization (`OkapiBM25P.java:90-99` is also two passes).
    * blend: result-set pagerank max forces the persisted two-pass plan;
      bounded k collects k rows, k=None localCheckpoints (distributed
      materialization) so the persisted parents can be released."""
    if pagerank_weight == 0.0:
        if k is not None:
            rows = raw_scores.orderBy(F.desc("raw"), F.asc("docid")).limit(k).collect()
            if not rows:
                return _local_df(spark, [], TOPK_SCHEMA)
            max_raw = rows[0]["raw"]  # global max: sort desc, row 1 survives
            if max_raw <= 0.0:
                # the reference's running max starts at 0 and is forced to 1
                # when nothing exceeds it (OkapiBM25P.java:91-94, VSM.java:113-116)
                max_raw = 1.0
            return _local_df(
                spark, [(r["docid"], r["raw"] / max_raw) for r in rows], TOPK_SCHEMA
            )
        max_raw = raw_scores.agg(F.max("raw")).head()[0]
        if max_raw is None:
            return _local_df(spark, [], TOPK_SCHEMA)
        if max_raw <= 0.0:
            max_raw = 1.0
        return raw_scores.select(
            "docid", (F.col("raw") / F.lit(max_raw)).alias("score")
        ).orderBy(F.desc("score"), F.asc("docid"))

    raw_scores = raw_scores.persist()
    scored = None
    try:
        max_raw = raw_scores.agg(F.max("raw")).head()[0]
        if max_raw is None:
            return _local_df(spark, [], TOPK_SCHEMA)
        if max_raw <= 0.0:
            max_raw = 1.0

        pr = tables.pagerank(spark)
        scored = (
            raw_scores.withColumn("score", F.col("raw") / F.lit(max_raw))
            .join(pr, "docid", "left")
            .withColumn("pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0)))
            .persist()
        )
        max_pr = scored.agg(F.max("pagerank")).head()[0]
        if not max_pr or max_pr == 0.0:
            max_pr = 1.0
        final = (
            scored.withColumn(
                "score",
                F.col("score") * F.lit(1.0 - pagerank_weight)
                + (F.col("pagerank") / F.lit(max_pr)) * F.lit(pagerank_weight),
            )
            .select("docid", "score")
            .orderBy(F.desc("score"), F.asc("docid"))
        )
        if k is not None:
            return _local_df(spark, final.limit(k).collect(), TOPK_SCHEMA)
        # k=None: distributed materialization, then parents can be released
        return final.localCheckpoint()
    finally:
        if scored is not None:
            scored.unpersist()
        raw_scores.unpersist()


def _finalize_const_one(
    spark: SparkSession, docs: DataFrame, k: int | None
) -> DataFrame:
    """_finalize for the set-model paths whose raw score is the CONSTANT
    1.0 (existential / conjunctive): max-normalization is the identity
    there (max of a constant-1 column is 1 when any row exists; the empty
    result is empty either way), so the scalar max-agg job _finalize
    would run per query is pure overhead — skip it. Ordering and schema
    are identical to _finalize's k=None / bounded-k branches."""
    out = docs.select("docid", F.lit(1.0).alias("score")).orderBy(
        F.desc("score"), F.asc("docid")
    )
    if k is None:
        return out
    return _local_df(
        spark,
        [(r["docid"], r["score"]) for r in out.limit(k).collect()],
        TOPK_SCHEMA,
    )


def bm25_topk(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """Okapi BM25+ top-k → (docid, score), scores max-normalized to [0,1]."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pq = prepare_query(spark, tables, query, config, expander=expander)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    raw = _bm25_raw_sql(spark, tables, pq, config)
    return _finalize(spark, tables, raw, k, pagerank_weight)


def _bm25_raw(
    spark: SparkSession, posting: DataFrame, pq: PreparedQuery, config: EngineConfig
) -> DataFrame:
    """(term, docid, tf, dl) → (docid, raw) BM25+ scores (`OkapiBM25P.java:67-88`).

    Postings arrive pre-filtered to the query terms (`matched_postings`), so
    weight/idf attach as literal-map lookups — the whole scoring is one
    codegen stage with no join."""
    contrib = _bm25_contrib(
        "tf", "dl", _term_lookup(pq, [w for _, w in pq.terms]),
        _term_lookup(pq, pq.idfs), config, pq.avgdl,
    )
    return posting.groupBy("docid").agg(
        F.expr(f"sum({contrib}) + {_dbl(sum(pq.idfs))}").alias("raw")
    )


BATCH_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("qid", T.IntegerType(), False),
        T.StructField("docid", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def bm25_topk_batch(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
    stats: dict | None = None,
) -> DataFrame:
    """N queries → ONE distributed pass: (qid, docid, score), rank-identical
    per qid to :func:`bm25_topk` run query-by-query.

    The reference's evaluation workload runs 635 queries sequentially
    (`ThemisEval.java:136-180`, one full ranking each). On a cluster that
    leaves the executors idle between driver round-trips; this operator
    amortizes the whole batch over a single plan:

      * one postings scan pruned to the UNION of all query terms (the
        pushed-IN filter covers the batch, so shared head terms decode once);
      * per-query weights/idfs ride a broadcast (qid, term, weight, idf)
        frame — at batch size a real broadcast join beats N literal-map
        plans, inverting the single-query design choice (`_term_lookup`);
      * scoring aggregates by (qid, docid) — one shuffle for the batch; the
        per-query additive Σidf constant (`OkapiBM25P.java:40-43` δ-term)
        joins back on qid from a second driver-sized broadcast;
      * max-normalization and tie-broken top-k are per-qid WINDOW functions
        over the same qid-partitioned exchange — no per-query jobs at all.

    Queries whose analyzed term list is empty, or whose terms match no
    postings, contribute no output rows (the per-query path returns an empty
    frame for them). With ``pagerank_weight > 0`` the blend normalizes
    PageRank by each query's own result-set maximum, exactly like
    `_finalize`. Output is not globally sorted; sort or window per qid at
    the call site if presentation order matters.

    **WAND routing.** Each qid is routed by the same driver arithmetic as
    :func:`bm25_topk_wand` (Σ DF ≥ ``wand_min_postings`` AND rare-term
    coverage ≥ k; only with bounded ``k`` and no PageRank blend — pruning is
    unsound otherwise). Qualifying qids share ONE batched block-max WAND
    pass (:func:`_bm25_batch_raw_wand`: one metadata aggregation, one seed
    decode, one survivor decode — each block decoded at most once for the
    whole sub-batch); the rest share the exhaustive scan. Results are
    rank-identical either way; ``stats['paths']`` records the per-qid route.
    """
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pqs: dict[int, PreparedQuery] = {}
    for qid, text in queries:
        pq = prepare_query(spark, tables, text, config, expander=expander)
        if pq.terms:
            pqs[qid] = pq
    if not pqs:
        return _local_df(spark, [], BATCH_TOPK_SCHEMA)

    wand_pqs: dict[int, PreparedQuery] = {}
    exh_pqs: dict[int, PreparedQuery] = dict(pqs)
    if k is not None and pagerank_weight == 0.0:
        for qid, pq in pqs.items():
            if _wand_routed(pq, k, config):
                wand_pqs[qid] = exh_pqs.pop(qid)
    if stats is not None:
        stats["paths"] = {
            qid: ("wand" if qid in wand_pqs else "exhaustive")
            for qid in pqs
        }

    parts = []
    if exh_pqs:
        qt, qsum = _batch_query_frames(spark, exh_pqs)
        terms = sorted({t for pq in exh_pqs.values() for t, _ in pq.terms})
        posting = matched_postings(spark, tables, terms)
        avgdl = next(iter(exh_pqs.values())).avgdl
        parts.append(_batch_score_blocks(posting, qt, qsum, config, avgdl))
    if wand_pqs:
        parts.append(
            _bm25_batch_raw_wand(spark, tables, wand_pqs, k, config, stats)
        )
    raw = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return _finalize_batch(spark, tables, raw, k, pagerank_weight)


def _batch_query_frames(
    spark: SparkSession, pqs: dict[int, PreparedQuery]
) -> tuple[DataFrame, DataFrame]:
    """Driver-sized (qid, term, weight, idf) and (qid, sum_idf) frames —
    the batch equivalents of the single-query literal maps, attached as
    broadcast joins (at batch size a real broadcast beats N literal plans)."""
    qt = _local_df(
        spark,
        [
            (qid, t, float(w), float(idf))
            for qid, pq in pqs.items()
            for (t, w), idf in zip(pq.terms, pq.idfs)
        ],
        "qid int, term string, weight double, idf double",
    )
    qsum = _local_df(
        spark,
        [(qid, float(sum(pq.idfs))) for qid, pq in pqs.items()],
        "qid int, sum_idf double",
    )
    return qt, qsum


def _batch_score_blocks(
    decoded: DataFrame,  # ([block_id,] term, docid, tf, dl)
    qt: DataFrame,
    qsum: DataFrame,
    config: EngineConfig,
    avgdl: float,
    pairs: DataFrame | None = None,  # (qid, block_id): blocks each qid admits
) -> DataFrame:
    """Score decoded postings per (qid, docid) → (qid, docid, raw); with
    ``pairs``, restricted to each qid's admitted (qid, block_id) pairs. The
    decode upstream is SHARED across qids — a block decodes once however
    many queries use it; the per-qid fan-out happens JVM-side on the
    already-decoded rows."""
    scored = decoded.join(F.broadcast(qt), "term")
    if pairs is not None:
        scored = scored.join(F.broadcast(pairs), ["qid", "block_id"], "left_semi")
    contrib = _bm25_contrib("tf", "dl", "weight", "idf", config, avgdl)
    return (
        scored.groupBy("qid", "docid")
        .agg(F.expr(f"sum({contrib})").alias("contrib"))
        .join(F.broadcast(qsum), "qid")
        .select("qid", "docid", (F.col("contrib") + F.col("sum_idf")).alias("raw"))
    )


def _bm25_batch_raw_wand(
    spark: SparkSession,
    tables: IndexTables,
    pqs: dict[int, PreparedQuery],
    k: int,
    config: EngineConfig,
    stats: dict | None = None,
) -> DataFrame:
    """Batched block-max WAND → (qid, docid, raw), rank-identical per qid to
    :func:`bm25_topk_wand`.

    Same three phases as the single-query operator, amortized over the
    sub-batch with two driver actions total (vs 2-3 PER query sequentially):

      1. metadata pass: per-(qid, block) upper bounds from max_tf/min_dl —
         one aggregation over blocks ⋈ broadcast query frame;
      2. seed: per-qid top groups by UB (window rank, bounded collect),
         cumulative-cover floors identical to the single-query seed; the
         UNION of seed blocks decodes once, θ_qid = k-th seed raw score
         (one collect for every qid's θ);
      3. prune + exact: groups with UB ≥ θ_qid survive per qid (qids whose
         seed couldn't fill k keep everything — no safe pruning); the union
         of surviving blocks decodes once, scores fan out per qid via the
         (qid, block_id) semi-join.

    Soundness per qid is the single-query argument verbatim: any pruned doc
    scores ≤ UB(group) < θ_qid ≤ true k-th score, and the argmax doc always
    survives, so max-normalization in `_finalize_batch` sees the true max."""
    union_terms = sorted({t for pq in pqs.values() for t, _ in pq.terms})
    blocks = (
        tables.postings(spark).filter(F.col("term").isin(union_terms)).persist()
    )
    qt, qsum = _batch_query_frames(spark, pqs)
    avgdl = next(iter(pqs.values())).avgdl
    group_ub = None
    try:
        # --- 1. per-(qid, block) upper bounds (JVM-only column math) ------
        group_ub = (
            blocks.join(F.broadcast(qt), "term")
            .withColumn("ub", F.expr(_bm25_block_ub("weight", "idf", config, avgdl)))
            .groupBy("qid", "block_id")
            .agg(F.sum("ub").alias("ub_sum"), F.max("df").alias("min_docs"))
            .join(F.broadcast(qsum), "qid")
            .select(
                "qid",
                "block_id",
                (F.col("ub_sum") + F.col("sum_idf")).alias("group_ub"),
                "min_docs",
            )
            .persist()
        )

        # --- 2. seed: per-qid UB-ranked prefix, same floors as single ----
        lim = max(4 * k, 64)
        rn = F.row_number().over(
            Window.partitionBy("qid").orderBy(
                F.desc("group_ub"), F.asc("block_id")
            )
        )
        seed_rows = (
            group_ub.withColumn("rn", rn)
            .filter(F.col("rn") <= lim)  # bounded driver transfer: Nq·lim
            .select("qid", "block_id", "min_docs", "rn")
            .collect()
        )
        per_qid: dict[int, list] = {}
        for r in sorted(seed_rows, key=lambda r: (r["qid"], r["rn"])):
            per_qid.setdefault(r["qid"], []).append(r)
        seed_pairs: list[tuple[int, int]] = []
        for qid, rows in per_qid.items():
            min_groups = min(k, len(rows))
            covered = taken = 0
            for r in rows:
                seed_pairs.append((qid, r["block_id"]))
                covered += r["min_docs"]
                taken += 1
                if covered >= 4 * k and taken >= min_groups:
                    break
        seed_pair_df = _local_df(spark, seed_pairs, "qid int, block_id long")
        seed_ids = sorted({bid for _, bid in seed_pairs})
        dec_seed = decode_blocks(
            blocks.filter(F.col("block_id").isin(seed_ids)),
            keep=("block_id",),
        )
        raw_seed = _batch_score_blocks(dec_seed, qt, qsum, config, avgdl, seed_pair_df)
        kth_rows = (
            raw_seed.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(
                        F.desc("raw"), F.asc("docid")
                    )
                ),
            )
            .filter(F.col("rn") <= k)
            .groupBy("qid")
            .agg(
                F.min("raw").alias("theta"),
                F.count(F.lit(1)).alias("n_seed"),
            )
            .collect()
        )
        # qids whose seed filled k get a θ; everyone else keeps all blocks
        thetas = {
            r["qid"]: float(r["theta"])
            for r in kth_rows
            if r["n_seed"] >= k and r["theta"] is not None
        }
        # --- 3. prune + exact: shared decode of the survivor union -------
        theta_df = _local_df(
            spark,
            [(qid, t) for qid, t in thetas.items()],
            "qid int, theta double",
        )
        surv = (
            group_ub.join(F.broadcast(theta_df), "qid", "left")
            .filter(
                F.col("theta").isNull()
                | (F.col("group_ub") >= F.col("theta"))
            )
            .select("qid", "block_id")
        )
        if stats is not None:
            stats["batch_theta"] = thetas
            stats["batch_seed_groups"] = len(seed_pairs)
            stats["batch_pairs_total"] = group_ub.count()
            stats["batch_pairs_survived"] = surv.count()
        dec = decode_blocks(
            blocks.join(
                F.broadcast(surv.select("block_id").distinct()),
                "block_id",
                "left_semi",
            ),
            keep=("block_id",),
        )
        return _batch_score_blocks(dec, qt, qsum, config, avgdl, surv)
    finally:
        blocks.unpersist()
        if group_ub is not None:
            group_ub.unpersist()


def _finalize_batch(
    spark: SparkSession,
    tables: IndexTables,
    raw: DataFrame,  # (qid, docid, raw)
    k: int | None,
    pagerank_weight: float,
) -> DataFrame:
    """Per-qid `_finalize`: max-normalize, optional PageRank blend (each
    query's blend normalizes by its OWN result-set pagerank max), tie-broken
    top-k — all as windows over one qid-partitioned exchange."""
    wq = Window.partitionBy("qid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the reference forces max to 1.0 when nothing beats 0
    # (OkapiBM25P.java:91-94)
    mx = F.max("raw").over(wq)
    mx = F.when(mx <= 0.0, F.lit(1.0)).otherwise(mx)
    scored = raw.withColumn("score", F.col("raw") / mx)

    if pagerank_weight != 0.0:
        pr = tables.pagerank(spark)
        scored = (
            scored.join(pr, "docid", "left")
            .withColumn("pagerank", F.coalesce(F.col("pagerank"), F.lit(0.0)))
        )
        max_pr = F.max("pagerank").over(wq)
        max_pr = F.when(
            max_pr.isNull() | (max_pr == 0.0), F.lit(1.0)
        ).otherwise(max_pr)
        scored = scored.withColumn(
            "score",
            F.col("score") * F.lit(1.0 - pagerank_weight)
            + (F.col("pagerank") / max_pr) * F.lit(pagerank_weight),
        )

    if k is not None:
        rn = F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        )
        scored = scored.withColumn("__rn", rn).filter(F.col("__rn") <= k)
    return scored.select("qid", "docid", "score")


def bm25_topk_wand(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int = 10,
    config: EngineConfig | None = None,
    stats: dict | None = None,
    pagerank_weight: float | None = None,
) -> DataFrame:
    """Block-max WAND BM25+ top-k — rank-identical to :func:`bm25_topk`, but
    prunes posting blocks by metadata before any decode work.

    The reference scores every posting exhaustively (`OkapiBM25P.java:51-88`);
    this is the scale extension from SURVEY.md §4 / the north rule. Spark-first
    shape (no per-posting driver work, three tiny scalar collects):

      1. **Metadata pass (JVM only).** For each (term, block_id) block of the
         query terms, an upper bound on the per-doc BM25 contribution from the
         stored `max_tf` / `min_dl` — the BM25 tf-term is monotone ↑ in tf and
         ↓ in dl, so ub = idf·(f_max·(k1+1)/(f_max+B_min)) (0 when idf<0).
         Summing over terms per block_id gives UB(group) ≥ best possible raw
         score of any doc in that docid range. Pure column math on the blocks
         table — the gaps/tfs/dls binaries are never touched.
      2. **Seed.** Decode only the top groups by UB (enough to cover ≥ k docs),
         score exactly, take the k-th raw score as threshold θ.
      3. **Prune + exact.** Keep groups with UB ≥ θ (distributed filter on the
         metadata), decode + score only those, and take the final
         `orderBy(desc, asc docid).limit(k)` (TakeOrderedAndProject = bounded
         per-partition min-heap + driver merge).

    Any pruned doc scores ≤ UB(group) < θ ≤ true k-th score, so the result —
    including the max-normalization constant, whose argmax doc always survives
    — is identical to the exhaustive path (property-tested).

    WAND pruning is only sound for the PURE BM25 score: a PageRank blend
    re-ranks by a quantity the block-max bound does not dominate. With a
    non-zero ``pagerank_weight`` (explicit or from config) this routes to the
    exhaustive plan, keeping results identical to :func:`bm25_topk`."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pq = prepare_query(spark, tables, query, config)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    if pagerank_weight != 0.0 or not _wand_routed(pq, k, config):
        if stats is not None:
            stats["fallback"] = (
                "exhaustive_pagerank_blend" if pagerank_weight else "exhaustive"
            )
        raw = _bm25_raw_sql(spark, tables, pq, config)
        return _finalize(spark, tables, raw, k, pagerank_weight)
    terms = [t for t, _ in pq.terms]
    ub = _bm25_block_ub(
        _term_lookup(pq, [w for _, w in pq.terms]), _term_lookup(pq, pq.idfs),
        config, pq.avgdl,
    )
    blocks = tables.postings(spark).filter(F.col("term").isin(terms)).persist()
    try:
        group_ub = (
            blocks.groupBy("block_id")
            .agg(
                F.expr(f"sum({ub}) + {_dbl(sum(pq.idfs))}").alias("group_ub"),
                F.max("df").alias("min_docs"),  # ≥ distinct docs via one term
            )
        ).persist()

        # seed: prefix of groups (by UB desc) holding ≥ 4k docs AND spanning
        # ≥ min(k, available) groups. Both floors matter: overshooting k docs
        # keeps a coarse block's common-term crowd from dominating θ, and the
        # ≥ k-groups floor keeps one common-heavy group from terminating the
        # seed early — with selective queries the true top-k is spread over k
        # different high-UB groups (one rare doc each), and a θ taken from a
        # single group sits at common-doc level, pruning nothing (measured:
        # 381/381 groups survived on 12-rare-term queries before this floor).
        # Seed decode stays O(k) groups regardless of corpus size.
        seed_rows = (
            group_ub.orderBy(F.desc("group_ub"), F.asc("block_id"))
            .select("block_id", "min_docs")
            .limit(max(4 * k, 64))  # bounded driver transfer
            .collect()
        )
        min_groups = min(k, len(seed_rows))
        seed_ids, covered = [], 0
        for r in seed_rows:
            seed_ids.append(r["block_id"])
            covered += r["min_docs"]
            if covered >= 4 * k and len(seed_ids) >= min_groups:
                break
        seed_raw = _bm25_raw(
            spark,
            decode_blocks(blocks.filter(F.col("block_id").isin(seed_ids))),
            pq,
            config,
        )
        kth = (
            seed_raw.orderBy(F.desc("raw"), F.asc("docid"))
            .limit(k)
            .agg(F.min("raw"), F.count(F.lit(1)))
            .head()
        )
        theta, n_seed = kth[0], kth[1]

        if theta is None or n_seed < k:
            survivors = blocks  # not enough docs to fill k: no safe pruning
        else:
            keep = group_ub.filter(F.col("group_ub") >= F.lit(theta)).select(
                "block_id"
            )
            survivors = blocks.join(F.broadcast(keep), "block_id", "left_semi")

        if stats is not None:
            stats["theta"] = theta
            stats["n_blocks_total"] = blocks.count()
            stats["n_blocks_survived"] = survivors.count()
            stats["n_seed_groups"] = len(seed_ids)

        raw = _bm25_raw(spark, decode_blocks(survivors), pq, config)
        return _finalize(spark, tables, raw, k, 0.0)
    finally:
        blocks.unpersist()
        group_ub.unpersist()


def vsm_topk(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """VSM top-k (`VSM.java:33-129`): query idf = ln(N/(1+DF)); the per-doc norm
    is the index-time vsm_weight (ln(N/DF)) — the reference's inconsistency,
    replicated. Joins doc_stats for (max_tf, vsm_weight) (J3)."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pq = prepare_query(spark, tables, query, config, expander=expander)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)

    return _finalize(spark, tables, _vsm_raw_sql(spark, tables, pq), k, pagerank_weight)


def vsm_topk_batch(
    spark: SparkSession,
    tables: IndexTables,
    queries: list[tuple[int, str]],
    k: int | None = 10,
    pagerank_weight: float | None = None,
    config: EngineConfig | None = None,
    expander=None,
) -> DataFrame:
    """VSM twin of :func:`bm25_topk_batch`: N queries, one plan, per-qid
    rank/score-identical to :func:`vsm_topk`. Per-query weights/idfs/cosine
    q-weights ride one broadcast frame; the per-query norm joins back on qid
    after the (qid, docid) aggregation; doc-side (max_tf, vsm_weight) joins
    from doc_stats exactly as the sequential path (J3)."""
    config = config or tables.config
    if pagerank_weight is None:
        pagerank_weight = config.pagerank_weight
    pqs: dict[int, PreparedQuery] = {}
    for qid, text in queries:
        pq = prepare_query(spark, tables, text, config, expander=expander)
        if pq.terms:
            pqs[qid] = pq
    if not pqs:
        return _local_df(spark, [], BATCH_TOPK_SCHEMA)

    qt_rows, qn_rows = [], []
    for qid, pq in pqs.items():
        q_weights, q_norm = _vsm_query_weights(pq)
        qn_rows.append((qid, float(q_norm)))
        qt_rows += [
            (qid, t, float(w), float(idf), float(qw))
            for ((t, w), idf, qw) in zip(pq.terms, pq.idfs, q_weights)
        ]
    qt = _local_df(
        spark, qt_rows, "qid int, term string, weight double, idf double, q_weight double"
    )
    qn = _local_df(spark, qn_rows, "qid int, q_norm double")

    union_terms = sorted({t for pq in pqs.values() for t, _ in pq.terms})
    posting = matched_postings(spark, tables, union_terms)
    stats = tables.doc_stats(spark).select("docid", "max_tf", "vsm_weight")
    contrib = _vsm_contrib("tf", "max_tf", "weight", "idf", "q_weight")
    raw = (
        posting.join(F.broadcast(qt), "term")
        .join(stats, "docid")
        .groupBy("qid", "docid")
        .agg(
            F.expr(f"sum({contrib})").alias("dot"),
            F.first("vsm_weight").alias("vsm_weight"),
        )
        .join(F.broadcast(qn), "qid")
        .select(
            "qid", "docid",
            F.expr(_vsm_cosine("dot", "vsm_weight", "q_norm")).alias("raw"),
        )
    )
    return _finalize_batch(spark, tables, raw, k, pagerank_weight)


def existential(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = None,
    config: EngineConfig | None = None,
) -> DataFrame:
    """Existential model (`Existential.java:28-59`): docs containing ANY query
    term, score ≡ 1.0 — semi-join + distinct (J7)."""
    config = config or tables.config
    pq = prepare_query(spark, tables, query, config)
    if not pq.terms:
        return _local_df(spark, [], TOPK_SCHEMA)
    docs = (
        matched_postings(spark, tables, [t for t, _ in pq.terms])
        .select("docid")
        .distinct()
    )
    return _finalize_const_one(spark, docs, k)


# rarest-term DF bound for conjunctive block pruning: a term occupies at
# most DF blocks, so this also caps the pushed IN-list size. Above it the
# metadata collect grows while the decode saving shrinks (the rarest term
# is no longer selective) — the same reasoning as WAND's routing floor.
CONJ_PRUNE_MAX_BLOCKS = 4096

# minimum decode volume the pruning must stand to save (≈ Σ DF − DF_min,
# the other terms' postings) before the metadata job pays. Set just under
# the smallest measured win, WAND-convention (BENCH/conjunctive_prune.json,
# 2M-doc hapax corpus: saved ≈ 1.65M postings won 1.8x; an all-rare AND
# with saved ≈ 2 LOST 0.2s — the collect job — to the exhaustive plan).
CONJ_PRUNE_MIN_SAVED_DF = 1_500_000


def conjunctive(
    spark: SparkSession,
    tables: IndexTables,
    query: str,
    k: int | None = None,
    config: EngineConfig | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Boolean AND — docs containing EVERY distinct query term, score ≡ 1.0.

    Extension: the reference brands a "Boolean model" but implements only the
    OR half (`Existential.java:14-18`, SURVEY §2.7); this is the missing
    intersection. An OOV term (DF=0) empties the result without touching the
    cluster.

    Plan: ONE term-pruned postings scan → decode → `groupBy(docid)` counting
    matched terms == n — a single shuffle with map-side partial agg. A plain
    `count` suffices because (term, docid) is unique by postings
    construction (A4 aggregates per term; the query's term set is deduped),
    and `count_distinct` here would compile to TWO exchanges (the expand +
    re-agg distinct rewrite). The naive alternative (a k-way chain of
    per-term semi-joins) is k shuffles of the same postings; the most
    selective term bounds the output exactly as in the reference's
    heap-merge engines.

    Block-intersection pruning (the AND twin of WAND): ``block_id =
    docid // block_size`` is a GLOBAL docid bucketing, so a doc can
    satisfy the AND only in blocks where EVERY term has a postings row —
    a subset of the RAREST term's block list. When the rarest DF is
    bounded (≤ ``CONJ_PRUNE_MAX_BLOCKS``, which also bounds the list: a
    term has at most DF blocks), one tiny metadata job collects that
    term's block ids and pushes ``block_id IN (...)`` into the scan, so
    head terms decode only candidate blocks instead of their full
    posting lists — at web scale the decode volume drops from Σ DF to
    ~n·DF_min. Selectivity-gated like WAND's router, from measurement
    (`BENCH/conjunctive_prune.json`): the rarest DF must be bounded (an
    all-head AND gains nothing and skips the metadata job) AND the
    decode volume stood to be saved (Σ DF − DF_min) must clear the
    measured floor (an all-rare AND decodes almost nothing either way
    and loses the metadata job's latency). ``stats['conjunctive']``
    reports which path ran.
    """
    config = config or tables.config
    pq = prepare_query(spark, tables, query, config)
    terms = sorted({t for t, _ in pq.terms})
    if not terms or any(df == 0 for df in pq.dfs):
        if stats is not None:
            stats["conjunctive"] = "empty"
        return _local_df(spark, [], TOPK_SCHEMA)
    df_by_term = dict(zip((t for t, _ in pq.terms), pq.dfs))
    min_df = min(df_by_term[t] for t in terms)
    saved_df = sum(df_by_term[t] for t in terms) - min_df
    blk: list | None = None
    if (
        len(terms) > 1
        and min_df <= CONJ_PRUNE_MAX_BLOCKS
        and saved_df >= CONJ_PRUNE_MIN_SAVED_DF
    ):
        rarest = min(terms, key=lambda t: (df_by_term[t], t))
        blk = [
            r["block_id"]
            for r in tables.postings(spark)
            .filter(F.col("term") == rarest)
            .select("block_id")
            .collect()
        ]
        # post-collect fallback: at small corpora (or for a rare-but-
        # spread term) the candidate list can cover most of the docid
        # space — the IN filter then prunes nothing and only bloats the
        # predicate. DF bounds block count, so this is knowable only
        # after the (tiny) metadata job; its cost is all we wasted.
        total_blocks = -(-pq.n_docs // config.postings_block_size)
        if len(blk) * 2 > total_blocks:
            blk = None
    if blk is not None:
        posting = decode_blocks(
            tables.postings(spark).filter(
                F.col("term").isin(terms) & F.col("block_id").isin(blk)
            )
        )
        if stats is not None:
            stats["conjunctive"] = "block_pruned"
            stats["n_candidate_blocks"] = len(blk)
    else:
        posting = matched_postings(spark, tables, terms)
        if stats is not None:
            stats["conjunctive"] = "exhaustive"
    docs = (
        posting.groupBy("docid")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == len(terms))
        .select("docid")
    )
    return _finalize_const_one(spark, docs, k)


def result_window(topk: DataFrame, start: int, end: int) -> DataFrame:
    """O5 — result page slice [start, end] (1-based, inclusive): the
    `Search.printResults` paging (`Search.java:330-361`). Applies to an
    already-ranked result frame; offset+limit keep the parent ordering."""
    return topk.offset(start - 1).limit(end - start + 1)


def topk_with_docs(
    spark: SparkSession, tables: IndexTables, topk: DataFrame
) -> DataFrame:
    """F4/J4: project display fields onto a (small) top-k.

    The k-row result is the BROADCAST side and doc_ids the streamed side —
    the only direction that works at 10^12 docs. Inner join: every docid in
    a result frame exists in doc_ids by construction (doc_ids IS the docid
    assignment; postings are built from it), and a left-outer here would
    forbid building the broadcast (outer) side, silently downgrading the
    hint (observed as HintErrorLogger warnings in gate runs)."""
    doc_ids = tables.doc_ids(spark)
    extra = [c for c in doc_ids.columns if c != "docid"]
    return (
        doc_ids.join(F.broadcast(topk), "docid")
        .select(*topk.columns, *extra)
        .orderBy(F.desc("score"), F.asc("docid"))
    )
