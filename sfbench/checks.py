"""Output checks against the pure-Python oracle (``oracle/engine.py``).

The oracle index is built once per (seed, size) and cached in the work
directory. Each check returns an error string, or ``None`` when the output
is right.
"""

from __future__ import annotations

import glob
import math
import os
import pickle

from search_engine_trec_fair_ranking_19_spark.analysis.tokenizer import tf_map
from search_engine_trec_fair_ranking_19_spark.oracle import engine as oracle

SCORE_TOL = 1e-9  # the bound tests/test_query_parity.py holds the engine to

# the code the cached oracle index depends on: the oracle, the engine
# config it defaults to, and the analyzer
_PKG = os.path.dirname(os.path.dirname(oracle.__file__))
ORACLE_SOURCES = [oracle.__file__, os.path.join(_PKG, "config.py")] + sorted(
    glob.glob(os.path.join(_PKG, "analysis", "*.py")))

_ORACLE_OPS = {
    "bm25_topk": oracle.bm25_topk,
    "bm25_topk_wand": oracle.bm25_topk,  # rank-identical to exhaustive BM25
    "vsm_topk": oracle.vsm_topk,
    "existential": oracle.existential,
    "conjunctive": oracle.conjunctive,
}


def compare_topk(got, expected, tol: float = SCORE_TOL) -> str | None:
    """Rank-identical docids and |Δscore| ≤ tol, or the first difference."""
    g_ids = [d for d, _ in got]
    e_ids = [d for d, _ in expected]
    if g_ids != e_ids:
        return f"rank mismatch: got {g_ids[:10]} want {e_ids[:10]}"
    for (d, gs), (_, es) in zip(got, expected):
        if not abs(gs - es) <= tol:
            return f"score mismatch at doc {d}: {gs!r} vs {es!r}"
    return None


def compare_metric(got: float, want: float, tol: float = SCORE_TOL) -> str | None:
    if math.isnan(want) and math.isnan(got):
        return None
    if not abs(got - want) <= tol:
        return f"{got!r} != {want!r}"
    return None


def collection_answer(index: oracle.OracleIndex, docs: list[tuple[str, str]]) -> dict:
    """Vocabulary DF, N and avgdl the engine must report after appending
    ``docs`` to the oracle ``index``'s collection — the oracle's analyzer
    (``tf_map``) and its N/avgdl definition (``build_index``)."""
    df = dict(index.df)
    n = index.n_docs
    tokens = sum(index.token_count.values())
    for _, text in docs:
        tfs = tf_map(text)
        tokens += sum(tfs.values())
        for t in tfs:
            df[t] = df.get(t, 0) + 1
        n += 1
    return {"df": df, "n_docs": n, "tokens": tokens,
            "avgdl": tokens / n if n else 0.0}


def compare_collection(got_df: dict, got_stats: dict, want: dict) -> str | None:
    if got_df != want["df"]:
        diff = sorted(set(got_df.items()) ^ set(want["df"].items()))[:5]
        return f"vocabulary DF differs from the oracle: {diff}"
    if int(got_stats["n_docs"]) != want["n_docs"]:
        return f"n_docs {got_stats['n_docs']} != {want['n_docs']}"
    if not abs(got_stats["avgdl"] - want["avgdl"]) <= SCORE_TOL * want["avgdl"]:
        return f"avgdl {got_stats['avgdl']!r} != {want['avgdl']!r}"
    return None


def oracle_index(path: str, docs: list[tuple[str, str]]) -> oracle.OracleIndex:
    """The oracle's index over ``docs``, pickled at ``path`` on first use so a
    repeated (seed, size) skips the pure-Python build; ``path`` carries a
    hash of ``ORACLE_SOURCES``. The pickle is only ever read back from the
    benchmark's own work directory."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    index = oracle.build_index(docs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(index, f)
    os.replace(path + ".tmp", path)
    return index


def expected_topk(index, op: str, query: str, k: int) -> list[tuple[int, float]]:
    return _ORACLE_OPS[op](index, query, k=k)


def expected_eval(index, query: str, judged: dict[str, int]) -> tuple[float, float]:
    """Oracle AP and nDCG of the full BM25 ranking (the evaluation's k=None)."""
    urls = [index.urls[d - 1] for d, _ in oracle.bm25_topk(index, query, k=None)]
    return oracle.average_precision(urls, judged), oracle.ndcg(urls, judged)
