"""Physical-plan regression pins — scale properties asserted as tests.

Correctness gates prove WHAT the operators compute; these pin HOW Catalyst
executes them, so a refactor that silently adds a shuffle, drops a
broadcast, or un-pushes the rank limit fails CI instead of surfacing as a
10x regression at 100x the data.
"""

import pytest

from search_engine_trec_fair_ranking_19_spark.config import EngineConfig
from search_engine_trec_fair_ranking_19_spark.operators import query as q
from search_engine_trec_fair_ranking_19_spark.operators.index_build import (
    build_index,
)
from search_engine_trec_fair_ranking_19_spark.sources.webtext import (
    corpus_spark,
)

CFG = EngineConfig(postings_block_size=64)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    webtext = corpus_spark(spark, 150, seed=19, n_partitions=3)
    return build_index(
        spark, webtext, str(tmp_path_factory.mktemp("planidx")), CFG
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_batch_plan_two_shuffles_and_group_limit(spark, tables):
    """bm25_topk_batch: ONE (qid,docid) agg exchange + ONE qid window
    exchange for ANY number of queries; both query-side frames broadcast;
    the per-qid top-k rank filter is pushed into the sort
    (WindowGroupLimit), so no partition materializes more than k rows per
    qid before filtering."""
    df = q.bm25_topk_batch(
        spark, tables, [(1, "web search"), (2, "w00001 page"), (3, "engine")],
        k=10,
    )
    plan = _plan(df)
    # AQE wraps exchanges; count the shuffle origins
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles == 2, f"expected 2 shuffles, got {n_shuffles}:\n{plan}"
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_sequential_topk_is_take_ordered(spark, tables):
    """Bounded-k BM25: the final order+limit must be TakeOrderedAndProject
    (per-partition bounded heaps + driver merge), never a global sort."""
    pq = q.prepare_query(spark, tables, "web search", CFG)
    posting = q.matched_postings(spark, tables, [t for t, _ in pq.terms])
    raw = q._bm25_raw(spark, posting, pq, CFG)
    plan = _plan(raw.orderBy("raw").limit(10))
    assert "TakeOrderedAndProject" in plan, plan


def test_scoring_stage_has_no_join(spark, tables):
    """Single-query scoring attaches weights/idfs as literal-map lookups —
    the raw-score plan must contain NO join of any kind (round-2 finding:
    a broadcast join here cost one extra job per query)."""
    pq = q.prepare_query(spark, tables, "web search engine", CFG)
    posting = q.matched_postings(spark, tables, [t for t, _ in pq.terms])
    plan = _plan(q._bm25_raw(spark, posting, pq, CFG))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_postings_scan_prunes_to_term_filter(spark, tables):
    """matched_postings must push the term IN-filter to the postings scan
    (cached: InMemoryTableScan filter pushdown; cold parquet: PushedFilters)
    rather than decode-then-filter."""
    df = q.matched_postings(spark, tables, ["web", "search"])
    plan = _plan(df)
    # the Filter must sit below the decode (FlatMapsInPandas/ArrowEvalPython
    # variants) in the string rendering = appear AFTER it top-down
    decode_pos = max(plan.find("Arrow"), plan.find("FlatMap"), plan.find("Eval"))
    filter_pos = plan.find("term#")
    assert filter_pos != -1
    assert "in(term" in plan.lower() or "term" in plan, plan
    assert decode_pos != -1 and plan.find("Filter", decode_pos) != -1 or (
        "InMemoryTableScan" in plan
    ), plan


def test_sql_path_pushes_term_filter_for_any_term(spark, tables):
    """The single-statement SQL paths inline query terms as hex literals;
    they fold back to a pushed ``term IN (...)`` filter on the cached
    postings scan even for terms SQL could not quote (a backslash, a
    control character)."""
    pq = q.prepare_query(spark, tables, "web c:\\windows blob\x01tok", CFG)
    for df in (q._bm25_raw_sql(spark, tables, pq, CFG), q._vsm_raw_sql(spark, tables, pq)):
        plan = _plan(df)
        assert any(
            "InMemoryTableScan" in line
            and " IN (" in line
            and all(t in line for t, _ in pq.terms)
            for line in plan.splitlines()
        ), plan


def test_deterministic_split_is_map_only_and_pruned(spark, tmp_path):
    """deterministic_split: zero exchanges (sampling 100 TB is a map-only
    job) and the (doc_id, split) projection prunes the parquet scan to the
    key column alone."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.functions import sampling

    p = str(tmp_path / "docs.parquet")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.parquet(p)
    out = sampling.deterministic_split(
        spark.read.parquet(p), {"train": 0.9, "val": 0.1}
    ).select("doc_id", "split")
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_minhash_signature_transform_not_duplicated(spark):
    """The shingle-hash transform must appear exactly twice in the optimized
    signature plan (token hash + shingle hash): a filter above the hs
    projection gets pushed below it and re-evaluates the transform per row
    — the 3-4x sf0.1 regression this pin guards against."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.operators import dedup

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f").alias("text")
    )
    hs = dedup._hashed_shingles(docs, "doc_id", "text", 3)
    sigs = dedup._signatures_from_hashed(hs, 16)
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("xxhash64") == 2


def test_conjunctive_is_one_shuffle_no_join(spark, tables):
    """conjunctive (k=None): the AND intersection is ONE count-aggregation
    exchange over the term-pruned postings — never the naive
    k-way chain of per-term semi-joins (k shuffles of the same postings).
    The trailing rangepartitioning exchange is the caller-facing ORDER BY,
    not part of the intersection."""
    plan = _plan(q.conjunctive(spark, tables, "web search", k=None))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_pack_sequences_single_bucket_exchange(spark):
    """pack_sequences: the ONLY exchange is the md5-bucket hash partition
    feeding the per-bucket prefix-sum window; the piece generator
    (sequence -> explode -> slice) stays map-only above it. A global sort
    (rangepartitioning) here would serialize the corpus."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.functions import chunking

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f g").alias("text")
    )
    plan = _plan(chunking.pack_sequences(docs, seq_len=5, n_buckets=4))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_lm_score_is_joins_plus_agg_no_window(spark):
    """lm_score: bigrams come from the map-only arrays_zip slide (no
    posexplode self-join, no window), the two model joins are equi hash
    joins (broadcast at this model size), and nothing is cartesian."""
    from pyspark.sql import functions as F

    from search_engine_trec_fair_ranking_19_spark.operators import lm_quality

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog").alias("text"),
    )
    model = lm_quality.fit_bigram_lm(docs)
    plan = _plan(lm_quality.lm_score(docs, model))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_conjunctive_block_pruning_parity(spark, tmp_path):
    """Block-intersection pruning must be invisible in the result: the
    pruned path (scan restricted to the rarest term's block ids) returns
    exactly the exhaustive path's rows, and the router reports which path
    ran. Corpus built so the route provably engages: one doc carries a
    hapax term (1 block out of ~13), every doc carries the head terms."""
    import search_engine_trec_fair_ranking_19_spark.operators.query as qq
    from search_engine_trec_fair_ranking_19_spark.entry_queries import (
        documents_as_webtext,
    )

    docs = spark.createDataFrame(
        [
            (i, "web search " + ("zqvxterm " if i == 50 else "") + f"filler{i}")
            for i in range(100)
        ],
        "doc_id long, text string",
    )
    t2 = build_index(
        spark,
        documents_as_webtext(docs),
        str(tmp_path / "conj_idx"),
        EngineConfig(postings_block_size=8),
    )
    # the production saved-DF floor is measured at web scale; at this
    # corpus nothing clears it, so lower it to exercise the pruned path
    old_floor = qq.CONJ_PRUNE_MIN_SAVED_DF
    old_max = qq.CONJ_PRUNE_MAX_BLOCKS
    try:
        qq.CONJ_PRUNE_MIN_SAVED_DF = 0
        stats = {}
        pruned = qq.conjunctive(
            spark, t2, "zqvxterm web", k=None, stats=stats
        )
        assert stats["conjunctive"] == "block_pruned"
        assert stats["n_candidate_blocks"] == 1
        rows_pruned = [(r["docid"], r["score"]) for r in pruned.collect()]
        qq.CONJ_PRUNE_MAX_BLOCKS = -1  # force the exhaustive path
        stats2 = {}
        exhaustive = qq.conjunctive(
            spark, t2, "zqvxterm web", k=None, stats=stats2
        )
        assert stats2["conjunctive"] == "exhaustive"
        rows_exhaustive = [
            (r["docid"], r["score"]) for r in exhaustive.collect()
        ]
        assert rows_pruned and rows_pruned == rows_exhaustive
        qq.CONJ_PRUNE_MAX_BLOCKS = old_max
        # all-head AND on the same index: the rarest term covers every
        # block, so the post-collect coverage fallback routes exhaustive
        # even with the floor lowered
        stats3 = {}
        qq.conjunctive(spark, t2, "web search", k=None, stats=stats3)
        assert stats3["conjunctive"] == "exhaustive"
    finally:
        qq.CONJ_PRUNE_MIN_SAVED_DF = old_floor
        qq.CONJ_PRUNE_MAX_BLOCKS = old_max
    # production floor: a selective-but-tiny AND (nothing saved) must not
    # pay the metadata job
    stats4 = {}
    qq.conjunctive(spark, t2, "zqvxterm web", k=None, stats=stats4)
    assert stats4["conjunctive"] == "exhaustive"


def test_duplicate_spans_skew_proof_plan(spark):
    """Substring-span dedup plan after the round-5 skew-proofing: per-whash
    occurrence stats come from groupBy + join-back (map-side partial agg
    collapses a corpus-wide boilerplate hash; AQE can skew-split the join),
    NEVER from a Window.partitionBy(whash) that would serialize the hot
    key's every instance into one task. Static shape: exactly 3 exchanges
    (whash agg, whash join input, doc_id islands) and no whash window; at
    runtime AQE broadcasts the tiny dup-only stats side."""
    from search_engine_trec_fair_ranking_19_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(4)],
        "doc_id long, text string",
    )
    d = dedup.duplicate_spans(df, k=4)
    plan = _plan(d)
    assert "windowspecdefinition(whash" not in plan
    assert plan.count("Exchange") == 3
    d.collect()
    final = d._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final  # AQE: stats side broadcast
