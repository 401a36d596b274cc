"""Seeded Common-Crawl-shaped corpora, query sets and judgments.

Everything here is a pure function of ``seed`` (and the requested size), so
the same seed always yields byte-identical inputs. The engine only ever sees
the parquet files this module writes; queries and judgments are built from
the oracle's view of the same documents.

Corpus shape:
  * a Zipf vocabulary of pronounceable pseudo-words, about a third of them
    suffixed variants of another word, so the Porter stemmer merges them;
  * lognormal document lengths whose analyzed mean is ~124 terms;
  * ~30% stopwords and ~2% capitalized tokens;
  * a hapax tail: two tokens per document that occur in no other document.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

N_BASE_WORDS = 40_000
ZIPF_EXPONENT = 1.05
STOP_FRAC = 0.30
CAP_FRAC = 0.02
HAPAX_PER_DOC = 2
TARGET_AVGDL = 124.0

_ONSETS = "b c d f g h k l m n p r s t v z br cl dr gl pl pr st tr".split()
_VOWELS = "a e i o u ai ou".split()
_SUFFIXES = ["ing", "ed", "s", "ation", "ness", "er"]
_STOPWORDS = "the and of to a in is it that with for as on this".split()
_LETTERS = "abcdefghijklmnoprstuvwxyz"  # no q: hapax tokens end in q


def _syllable(i: int) -> str:
    return _ONSETS[i % len(_ONSETS)] + _VOWELS[(i // len(_ONSETS)) % len(_VOWELS)]


def vocabulary() -> list[str]:
    """Fixed (seed-independent) word list; the seed decides usage, not words.

    Word ``i`` is the syllable spelling of ``i``; every third word from 300
    on is a suffixed variant of an earlier word, so stems collide."""
    n_syl = len(_ONSETS) * len(_VOWELS)
    words = []
    for i in range(N_BASE_WORDS):
        if i >= 300 and i % 3 == 0:
            base = words[(i * 7919) % i]
            words.append(base + _SUFFIXES[i % len(_SUFFIXES)])
            continue
        parts, j = [], i + n_syl  # ≥ 2 syllables for every word
        while j:
            parts.append(_syllable(j % n_syl))
            j //= n_syl
        words.append("".join(parts))
    return words


def hapax_token(serial: int) -> str:
    """Doc-unique token: letters only, ends in 'q' so no stemmer rule fires."""
    s, out = serial, []
    while True:
        out.append(_LETTERS[s % len(_LETTERS)])
        s //= len(_LETTERS)
        if not s:
            break
    return "hx" + "".join(out) + "q"


def generate_docs(seed: int, n_docs: int, serial0: int = 0, tag: str = "b"):
    """(urls, texts) of ``n_docs`` documents.

    ``serial0`` offsets the hapax serials and ``tag`` the url namespace, so
    batches generated for appending never collide with the base corpus."""
    rng = np.random.default_rng([seed, serial0, n_docs])
    words = np.array(vocabulary(), dtype=object)
    stop = np.array(_STOPWORDS, dtype=object)
    probs = 1.0 / np.arange(1, len(words) + 1, dtype=np.float64) ** ZIPF_EXPONENT
    probs /= probs.sum()
    # the permutation decouples Zipf rank from word shape and varies by seed
    words = words[rng.permutation(len(words))]

    content_mean = TARGET_AVGDL - HAPAX_PER_DOC
    raw_mean = content_mean / (1.0 - STOP_FRAC)
    sigma = 0.6
    lengths = np.maximum(
        4, rng.lognormal(np.log(raw_mean) - sigma**2 / 2, sigma, n_docs)
    ).astype(np.int64)
    total = int(lengths.sum())
    ids = rng.choice(len(words), size=total, p=probs)
    toks = words[ids]
    is_stop = rng.random(total) < STOP_FRAC
    toks[is_stop] = stop[rng.integers(0, len(stop), int(is_stop.sum()))]
    cap = (~is_stop) & (rng.random(total) < CAP_FRAC)
    toks[cap] = [t.capitalize() for t in toks[cap]]

    ends = np.cumsum(lengths)
    starts = ends - lengths
    order = rng.permutation(n_docs)  # url order != generation order
    urls, texts = [], []
    for i in range(n_docs):
        serial = serial0 + i
        hapax = [hapax_token(serial * HAPAX_PER_DOC + j) for j in range(HAPAX_PER_DOC)]
        body = toks[starts[i] : ends[i]].tolist()
        texts.append(" ".join(body + hapax))
        urls.append(f"https://{tag}{seed}.example.org/{int(order[i]):07d}/p.html")
    return urls, texts


def source_hash(paths: list[str]) -> str:
    """Short hash of source files, so caches of their output go stale with
    them."""
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def content_hash(urls: list[str], texts: list[str]) -> str:
    h = hashlib.sha256()
    for u, t in zip(urls, texts):
        h.update(u.encode())
        h.update(b"\t")
        h.update(t.encode())
        h.update(b"\n")
    return h.hexdigest()


def write_corpus(
    work: str, seed: int, n_docs: int, serial0: int = 0, tag: str = "b"
) -> dict:
    """Write (once) the corpus parquet for these parameters; return its record.

    The record holds the parquet path, the content hash, the text byte count
    and the (url, text) pairs the oracle indexes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"{tag}_s{seed}_n{n_docs}_o{serial0}_{source_hash([__file__])}"
    path = os.path.join(work, "corpus", name + ".parquet")
    meta_path = os.path.join(work, "corpus", name + ".json")
    if os.path.exists(meta_path) and os.path.exists(path):
        with open(meta_path) as f:
            meta = json.load(f)
        tbl = pq.read_table(path)
        meta["docs"] = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
        return meta
    urls, texts = generate_docs(seed, n_docs, serial0, tag)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # a handful of row groups/files-worth of rows: the engine decides its own
    # partitioning from the file, as it would for a crawl shard
    tmp = path + ".tmp"
    pq.write_table(
        pa.table({"url": urls, "text": texts}), tmp, row_group_size=8192
    )
    os.replace(tmp, path)
    meta = {
        "path": path,
        "seed": seed,
        "n_docs": n_docs,
        "serial0": serial0,
        "sha256": content_hash(urls, texts),
        "text_bytes": sum(len(t.encode()) for t in texts),
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    meta["docs"] = list(zip(urls, texts))
    return meta


# ---------------------------------------------------------------------------
# queries and judgments
# ---------------------------------------------------------------------------

QUERY_CLASSES = ("selective", "head")


def _doc_terms(text: str, df: dict[str, int]) -> list[tuple[int, str]]:
    """(DF, raw token) for each distinct analyzed term of a document."""
    from search_engine_trec_fair_ranking_19_spark.analysis.tokenizer import (
        analyze_query,
    )

    seen, out = set(), []
    for tok in text.split():
        terms = analyze_query(tok)
        if len(terms) != 1 or terms[0] in seen or terms[0] not in df:
            continue
        seen.add(terms[0])
        out.append((df[terms[0]], tok))
    return sorted(out)


def make_queries(
    rng: np.random.Generator,
    docs: list[tuple[str, str]],
    df: dict[str, int],
    cls: str,
    n: int,
    n_terms: tuple[int, int],
) -> list[tuple[str, int]]:
    """``n`` (query, source doc position) pairs of the given class; each
    query is made of tokens of its source document, so conjunctive queries
    always have a match.

    ``selective``: one hapax token plus the document's rarest shared terms
    (Σ DF ≤ 1% of N). ``head``: its most frequent terms (Σ DF ≥ N)."""
    n_docs = len(docs)
    out = []
    while len(out) < n:
        src = int(rng.integers(0, n_docs))
        terms = _doc_terms(docs[src][1], df)
        k = int(rng.integers(n_terms[0], n_terms[1] + 1))
        if len(terms) < k:
            continue
        if cls == "selective":
            pick = terms[:1] + [t for t in terms if t[0] > 1][: k - 1]
        else:
            pick = terms[-k:]
        sum_df = sum(d for d, _ in pick)
        if cls == "selective" and sum_df > 0.01 * n_docs:
            continue
        if cls == "head" and sum_df < n_docs:
            continue
        toks = [t for _, t in pick]
        rng.shuffle(toks)
        out.append((" ".join(toks), src))
    return out


def make_judgments(
    rng: np.random.Generator,
    sources: list[int],
    urls: list[str],
    n_random: int = 12,
    p_relevant: float = 0.3,
) -> list[dict[str, int]]:
    """Seeded judgments per query (url → 0/1): the query's source document
    is relevant; ``n_random`` other documents are judged, each relevant with
    probability ``p_relevant``."""
    out = []
    for src in sources:
        judged = {urls[src]: 1}
        for j in rng.integers(0, len(urls), n_random):
            judged.setdefault(urls[int(j)], int(rng.random() < p_relevant))
        out.append(judged)
    return out
