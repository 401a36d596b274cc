"""Corpus-curation pipeline tests: stage precedence, survivor-only
canonicals, and the curated-corpus semi-join."""

from pyspark.sql import functions as F

from search_engine_trec_fair_ranking_19_spark.operators import curate

# every text carries enough English marker words to pass lang_id('en');
# the German one fails it. Docs meant to stay independent get DISTINCT pads
# (a shared pad alone is >0.5 trigram-Jaccard and would cluster them).
_EN_PAD = "the cat and the dog ran to the park and it was good for the day"
_EN_PAD2 = "it is known that the results of this run hold with care for every trial"


def _docs(spark):
    rows = [
        # 1/2: byte-identical after normalization -> exact dup, canonical 1
        (1, _EN_PAD + " alpha beta gamma delta epsilon zeta"),
        (2, _EN_PAD + "  Alpha beta GAMMA delta epsilon zeta"),
        # 3: near dup of 1 (one word changed)
        (3, _EN_PAD + " alpha beta gamma delta epsilon theta"),
        # 4: German -> dropped for lang whatever else it matches
        (4, "der hund und die katze ist nicht ein vogel mit der maus von zu"),
        # 5: English but pure punctuation soup -> quality floor
        (5, "the !!! ??? ... ;;; ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~"),
        # 6: independent clean doc (own pad -> no shared trigrams with 1/3)
        (6, _EN_PAD2 + " completely different content about spark shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _decisions(spark, **kw):
    kw.setdefault("langs", ("en",))
    kw.setdefault("min_quality", 0.3)
    kw.setdefault("shingle_n", 3)
    kw.setdefault("near_dup_threshold", 0.5)
    return {
        r["doc_id"]: r
        for r in curate.curation_decisions(_docs(spark), **kw).collect()
    }


def test_stage_reasons_and_keep(spark):
    d = _decisions(spark)
    assert d[4]["drop_reason"] == "lang" and not d[4]["keep"]
    assert d[5]["drop_reason"] == "quality" and not d[5]["keep"]
    assert d[2]["drop_reason"] == "exact_dup"
    assert d[3]["drop_reason"] == "near_dup"
    assert d[1]["keep"] and d[1]["drop_reason"] is None
    assert d[6]["keep"] and d[6]["drop_reason"] is None


def test_nonsurvivor_pairs_never_drop_survivors(spark):
    # supplied pair (2,6): doc 2 already fell to exact_dup, so it is not a
    # survivor — the pair must be restricted away and 6 keeps; a dropped
    # doc must never pull a surviving doc out of the corpus
    pairs = spark.createDataFrame([(2, 6)], "a long, b long")
    d = _decisions(spark, pairs=pairs)
    assert d[2]["drop_reason"] == "exact_dup"
    assert d[6]["keep"]


def test_precedence_lang_before_near_dup(spark):
    # doc 4 in a forced pair with 6: lang fires first, and because 4 is
    # not a survivor the pair is restricted away -> 6 keeps
    pairs = _docs(spark).sparkSession.createDataFrame(
        [(4, 6)], "a long, b long"
    )
    d = _decisions(spark, pairs=pairs)
    assert d[4]["drop_reason"] == "lang"
    assert d[6]["keep"]


def test_curate_corpus_rows(spark):
    kept = sorted(
        r["doc_id"]
        for r in curate.curate_corpus(
            _docs(spark),
            langs=("en",),
            min_quality=0.3,
            shingle_n=3,
            near_dup_threshold=0.5,
        ).collect()
    )
    assert kept == [1, 6]
    # curated frame keeps ALL original columns
    cols = curate.curate_corpus(_docs(spark)).columns
    assert cols == ["doc_id", "text"]


def test_cap_per_group_selection_and_determinism(spark):
    rows = [(i, f"g{i % 3}", float(i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    out = curate.cap_per_group(df, "grp", 5, "score").collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append((r["score"], r["doc_id"]))
    assert all(len(v) == 5 for v in by_grp.values())
    # per group: the 5 best scores, ties broken by LOWEST doc_id
    for g, kept in by_grp.items():
        pool = sorted(
            ((s, i) for i, gg, s in rows if gg == g),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        assert sorted(kept, key=lambda t: (-t[0], t[1])) == pool
    # stable under repartition: identical membership
    again = curate.cap_per_group(df.repartition(7), "grp", 5, "score").collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in again}
    # ascending mode keeps the LOWEST scores
    asc = curate.cap_per_group(df, "grp", 2, "score", descending=False)
    assert all(r["score"] <= 1.0 for r in asc.collect())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curate.cap_per_group(df, "grp", 0, "score")


def test_cap_per_group_plan_is_window_group_limit(spark):
    """The rank<=n filter must be rewritten into WindowGroupLimit: each
    input partition keeps only its local top-n per group BEFORE the
    group-key exchange — the property that makes a 100M-page host ship n
    rows per upstream partition instead of 100M."""
    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(30)],
        "doc_id long, grp string, score double",
    )
    out = curate.cap_per_group(df, "grp", 3, "score")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def _src_docs(spark):
    # kept docs from _docs plus a source column; docs 2/3 dup-drop, 4 lang,
    # 5 quality (with the _decisions defaults) -> keeps {1, 6}
    return _docs(spark).withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 2).cast("string"))
    )


def test_prepare_training_set_end_to_end(spark, tmp_path):
    chunks = curate.prepare_training_set(
        _src_docs(spark),
        cap_per_source=5,
        split_weights={"train": 0.5, "val": 0.5},
        max_len=8,
        overlap=2,
        langs=("en",),
        min_quality=0.3,
        shingle_n=3,
        near_dup_threshold=0.5,
    )
    rows = chunks.collect()
    assert set(chunks.columns) == {
        "doc_id", "source", "split", "chunk_id", "n_tokens", "chunk"
    }
    # only curation survivors produce chunks
    assert {r["doc_id"] for r in rows} == {1, 6}
    # doc-level split: every chunk of a doc carries the SAME split
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in per_doc.values())
    # chunks reassemble each doc's whitespace tokens exactly
    for d in (1, 6):
        text = {r["doc_id"]: r["text"] for r in _src_docs(spark).collect()}[d]
        ordered = sorted(
            (r for r in rows if r["doc_id"] == d), key=lambda r: r["chunk_id"]
        )
        merged = ordered[0]["chunk"].split()
        for r in ordered[1:]:
            merged += r["chunk"].split()[2:]
        assert merged == text.split()
    # reproducible under repartition
    again = curate.prepare_training_set(
        _src_docs(spark).repartition(5),
        cap_per_source=5,
        split_weights={"train": 0.5, "val": 0.5},
        max_len=8,
        overlap=2,
        langs=("en",),
        min_quality=0.3,
        shingle_n=3,
        near_dup_threshold=0.5,
    ).collect()
    key = lambda r: (r["doc_id"], r["chunk_id"], r["split"], r["chunk"])
    assert sorted(map(key, rows)) == sorted(map(key, again))
    # write partitioned by split and round-trip
    out = str(tmp_path / "train_set")
    curate.write_training_set(chunks, out)
    back = spark.read.parquet(out)
    assert back.count() == len(rows)
    splits = {r["split"] for r in rows}
    import os

    assert {
        d.split("=")[1] for d in os.listdir(out) if d.startswith("split=")
    } == splits


def test_prepare_training_set_cap_applies(spark):
    # 8 clean english docs in ONE source; cap 3 keeps the 3 best quality
    rows = [
        (i, _EN_PAD2 + f" doc{i} " + " ".join(f"u{i}x{j}" for j in range(i)))
        for i in range(1, 9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("only")
    )
    chunks = curate.prepare_training_set(
        df,
        cap_per_source=3,
        max_len=64,
        langs=("en",),
        min_quality=0.0,
        shingle_n=3,
        near_dup_threshold=0.99,
    )
    assert len({r["doc_id"] for r in chunks.collect()}) == 3


def test_prepare_training_set_decontaminates_and_redacts(spark):
    # doc 7: clean english but contains a verbatim eval-set span
    # doc 8: clean english with an email to be masked
    span = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (7, _EN_PAD2 + " " + span + " trailing words here"),
        (8, _EN_PAD + " reach me at jane@example.com for details"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "source", F.lit("s")
    )
    ev = spark.createDataFrame(
        [(99, "irrelevant prefix " + span + " suffix")],
        "doc_id long, text string",
    )
    chunks = curate.prepare_training_set(
        df,
        eval_df=ev,
        decontaminate_n=8,
        redact=True,
        max_len=64,
        langs=("en",),
        min_quality=0.0,
        shingle_n=3,
        near_dup_threshold=0.99,
    )
    rows = chunks.collect()
    # contaminated doc 7 gone; doc 8 kept with the email masked
    assert {r["doc_id"] for r in rows} == {8}
    assert all("jane@example.com" not in r["chunk"] for r in rows)
    assert any("[email]" in r["chunk"] for r in rows)


def test_latest_snapshot_keeps_newest_per_url(spark):
    crawl = spark.createDataFrame(
        [
            ("u1", 10, b"h1", "old extraction"),
            ("u1", 30, b"h3", "new extraction"),
            ("u1", 20, b"h2", "middle extraction"),
            ("u2", 5, b"h4", "only crawl"),
        ],
        "url string, ts long, html binary, text string",
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("ts")))
    out = {r["url"]: r for r in curate.latest_snapshot(crawl).collect()}
    assert len(out) == 2
    assert out["u1"]["text"] == "new extraction"  # max warc_ts wins
    assert out["u1"]["html"] == b"h3"  # every column rides along
    assert out["u2"]["text"] == "only crawl"


def test_latest_snapshot_deterministic_tiebreak(spark):
    # identical warc_ts: descending text decides, so the survivor is a pure
    # function of the data (engine/cluster-size independent)
    crawl = spark.createDataFrame(
        [("u1", 10, "aaa"), ("u1", 10, "zzz"), ("u1", 9, "newest-but-older")],
        "url string, warc_ts long, text string",
    )
    out = curate.latest_snapshot(crawl).collect()
    assert len(out) == 1 and out[0]["text"] == "zzz"


def test_latest_snapshot_hashes_map_columns(spark):
    # xxhash64 rejects MapType: a map column (e.g. HTTP headers) used to
    # fail analysis; it must reach the full-row tie-break, and the survivor
    # must not depend on input row order
    crawl = spark.createDataFrame(
        [
            ("u1", 10, "same", {"a": "1", "b": "2"}),
            ("u1", 10, "same", {"b": "2", "a": "1"}),
            ("u1", 10, "same", {"a": "1", "b": "3"}),
            ("u2", 5, "only", {}),
        ],
        "url string, warc_ts long, text string, headers map<string,string>",
    )
    out = curate.latest_snapshot(crawl).collect()
    assert sorted(r["url"] for r in out) == ["u1", "u2"]
    rev = curate.latest_snapshot(
        crawl.orderBy(F.desc("warc_ts"), F.desc("url"))
    ).collect()
    assert {r["url"]: r["headers"] for r in rev} == {
        r["url"]: r["headers"] for r in out
    }


def test_latest_snapshot_plan_is_window_group_limit(spark):
    crawl = spark.createDataFrame(
        [("u1", 1, "a"), ("u1", 2, "b")], "url string, warc_ts long, text string"
    )
    plan = curate.latest_snapshot(crawl)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_prepare_training_set_dedup_spans(spark):
    # doc 1 and doc 2 share an 8-token run; with dedup_spans_k=8 the second
    # occurrence is deleted before chunking, the first is kept intact
    shared = "the one and two of three in four"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta gamma delta", "s1"),
            (2, f"the prefix and words of here {shared} the tail and end", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    chunks = curate.prepare_training_set(
        docs,
        max_len=50,
        dedup_spans_k=8,
        split_weights={"train": 1.0},
        min_quality=0.0,
    )
    text_by_doc = {
        r["doc_id"]: " ".join(
            c["chunk"] for c in sorted(chunks.collect(), key=lambda x: x["chunk_id"])
            if c["doc_id"] == r["doc_id"]
        )
        for r in chunks.select("doc_id").distinct().collect()
    }
    assert shared in text_by_doc[1]
    assert shared not in text_by_doc[2]
    assert "the prefix and words of here" in text_by_doc[2]
