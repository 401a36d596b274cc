"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest sfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the package

import pytest  # noqa: E402

import checks  # noqa: E402
import corpus  # noqa: E402
import tracing  # noqa: E402
from search_engine_trec_fair_ranking_19_spark.analysis.tokenizer import tf_map  # noqa: E402


def test_same_seed_same_corpus_hash(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), seed=7, n_docs=200)
    b = corpus.write_corpus(str(tmp_path / "b"), seed=7, n_docs=200)
    c = corpus.write_corpus(str(tmp_path / "c"), seed=8, n_docs=200)
    assert a["sha256"] == b["sha256"]
    assert a["sha256"] != c["sha256"]
    # a cached corpus is read back, not regenerated, with the same hash
    again = corpus.write_corpus(str(tmp_path / "a"), seed=7, n_docs=200)
    assert again["sha256"] == a["sha256"] and again["docs"] == a["docs"]


def test_corpus_shape():
    urls, texts = corpus.generate_docs(seed=3, n_docs=2000)
    assert len(set(urls)) == len(urls)
    tfs = [tf_map(t) for t in texts]
    avgdl = sum(sum(t.values()) for t in tfs) / len(tfs)
    assert 110 < avgdl < 140
    df = {}
    for t in tfs:
        for term in t:
            df[term] = df.get(term, 0) + 1
    # two hapax tokens per document, each in exactly one document
    for tf, text in zip(tfs, texts):
        hapax = text.split()[-corpus.HAPAX_PER_DOC:]
        assert all(df[h] == 1 and tf[h] == 1 for h in hapax)
    # Zipf head: the most common term is in nearly every document
    assert max(df.values()) > 0.9 * len(texts)


def test_appended_batch_does_not_collide():
    base_urls, base_texts = corpus.generate_docs(seed=3, n_docs=300)
    urls, texts = corpus.generate_docs(seed=3, n_docs=300, serial0=300, tag="a")
    assert not set(base_urls) & set(urls)
    base_tokens = {t for x in base_texts for t in x.split()}
    assert not {x.split()[-1] for x in texts} & base_tokens


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50), (5, 50), (20, 50), (21, 52), (100, 90), (200, 95), (1000, 95)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    values = list(range(1, n + 1))
    got_pct, value = tracing.tail_percentile(values)
    assert got_pct == pct
    if pct > 50:
        assert sum(1 for v in values if v > value) >= 10
        # one percentile higher would leave fewer than ten beyond
        if pct < 95:
            rank = -(-(pct + 1) * n // 100)
            assert n - rank < 10


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "parent": parent, "name": name, "rid": "r",
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0, "op"),
        _span(2, 1, 1.0, 3.0, "a"),
        _span(3, 1, 2.0, 5.0, "b"),  # overlaps its sibling: union is 1..5
        _span(4, 1, 7.0, 8.0, "a"),
        _span(5, 3, 2.5, 4.0, "c"),  # a grandchild does not count for span 1
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[5] == pytest.approx(1.5)


def test_self_times_of_nested_spans_sum_to_the_root():
    spans = [
        _span(1, None, 0.0, 10.0, "op"),
        _span(2, 1, 1.0, 3.0, "a"),
        _span(3, 1, 4.0, 9.0, "b"),
        _span(4, 3, 5.0, 6.0, "a"),
    ]
    by_name = tracing.self_time_by_name(spans)
    assert by_name == pytest.approx({"op": 3.0, "a": 3.0, "b": 4.0})
    assert sum(by_name.values()) == pytest.approx(10.0)
    assert tracing.total_by_name(spans)["a"] == pytest.approx((3.0, 2))


def test_tracer_nests_spans_and_unwraps():
    class Mod:
        @staticmethod
        def inner():
            return 1

        @staticmethod
        def outer():
            return Mod.inner() + 1

    tr = tracing.Tracer()
    tr.wrap(Mod, "inner", "mod.inner")
    with tr.span("op", rid="q1"):
        assert Mod.outer() == 2
    tr.unwrap_all()
    assert [s["name"] for s in tr.spans] == ["op", "mod.inner"]
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert tr.spans[1]["rid"] == "q1"
    assert Mod.inner.__name__ == "inner" and not tr._patched


def test_parse_sql_metric():
    assert tracing.parse_sql_metric("5.1 s") == pytest.approx(5.1)
    assert tracing.parse_sql_metric("23.8 KiB") == pytest.approx(23.8 * 1024)
    text = "total (min, med, max (stageId: taskId))\n10 ms (1 ms, 2 ms, 5 ms (stage 3.0: task 4))"
    assert tracing.parse_sql_metric(text) == pytest.approx(0.010)
    assert tracing.parse_sql_metric(None) == 0.0


@pytest.fixture(scope="module")
def small_oracle():
    urls, texts = corpus.generate_docs(seed=5, n_docs=300)
    docs = list(zip(urls, texts))
    from search_engine_trec_fair_ranking_19_spark.oracle import engine

    return engine.build_index(docs), docs


def test_oracle_check_flags_perturbed_ranking_and_score(small_oracle):
    index, docs = small_oracle
    q = " ".join(docs[0][1].split()[:3])
    want = checks.expected_topk(index, "bm25_topk", q, 10)
    assert len(want) >= 3
    assert checks.compare_topk(want, want) is None
    swapped = [want[1], want[0]] + want[2:]
    assert "rank mismatch" in checks.compare_topk(swapped, want)
    nudged = [(want[0][0], want[0][1] + 1e-8)] + want[1:]
    assert "score mismatch" in checks.compare_topk(nudged, want)
    tiny = [(want[0][0], want[0][1] + 1e-10)] + want[1:]
    assert checks.compare_topk(tiny, want) is None
    assert "rank mismatch" in checks.compare_topk(want[:-1], want)


def test_eval_and_collection_checks(small_oracle):
    index, docs = small_oracle
    q = " ".join(docs[1][1].split()[:3])
    judged = {docs[1][0]: 1, docs[2][0]: 0, docs[3][0]: 1}
    ap, nd = checks.expected_eval(index, q, judged)
    assert 0.0 < ap <= 1.0 and 0.0 < nd <= 1.0
    assert checks.compare_metric(ap, ap) is None
    assert checks.compare_metric(ap + 1e-6, ap) is not None
    want = checks.collection_answer(index, [])
    assert want["n_docs"] == index.n_docs and want["avgdl"] == index.avgdl
    assert checks.compare_collection(dict(index.df), want, want) is None
    bad = dict(index.df)
    bad[next(iter(bad))] += 1
    assert "DF differs" in checks.compare_collection(bad, want, want)
    more = checks.collection_answer(index, docs[:2])
    assert more["n_docs"] == index.n_docs + 2


def test_reap_children_waits_for_orphaned_grandchildren():
    # in a child process, since becoming a subreaper cannot be undone: a
    # shell leaves a background sleep behind, which is re-parented to the
    # subreaper; _reap_children must return only after it has ended
    code = (
        "import os, subprocess, sys, time\n"
        f"sys.path[:0] = [{os.path.dirname(HERE)!r}, {os.path.dirname(os.path.dirname(HERE))!r}]\n"
        "import tracing\n"
        "from workload import _reap_children, become_subreaper\n"
        "become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 0.5 & exit 0'], check=True)\n"
        "assert tracing.descendants(os.getpid()), 'the sleep is no descendant'\n"
        "t0 = time.monotonic()\n"
        "_reap_children(30)\n"
        "assert not tracing.descendants(os.getpid())\n"
        "print(round(time.monotonic() - t0, 2))\n"
    )
    import subprocess

    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert 0.2 < float(out.stdout) < 10  # waited for the sleep, not killed it
