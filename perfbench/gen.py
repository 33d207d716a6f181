"""Seeded inputs: a webtext-shaped corpus and the workloads' query streams.

The corpus copies the distribution of ``rucene_spark.webtext.make_corpus``
(Zipf 1.07 over 30k terms, lognormal lengths, 0.5% CJK, 0.1% 600-byte
and 2% punctuation-attached tokens; see :data:`DOC_TOKENS` for the
length) but lives here, so a
change to the engine cannot change the benchmark's inputs. Term
``tNNNNNN`` is Zipf rank ``NNNNNN``, so query terms are picked by rank
with no document-frequency pass over the corpus.

Queries are plain data (query strings, or ``("span", a, b, slop,
in_order)`` tuples); turning them into engine ``Query`` objects is the
engine's work and is timed as ``query.parse_s``.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = 30_000
# mean document length in tokens. webtext.make_corpus uses 200; the
# benchmark keeps the lognormal shape but shortens documents so that an
# index of 100k documents (the size at which the engine routes term and
# boolean queries to its per-segment collector kernels) builds in about
# the time 8k webtext-length documents take
DOC_TOKENS = 20.0
HEAD_TERMS = 50          # batch_heavy's pool: the Zipf top ranks
HEAD_BAND = 100          # ranks below this are head terms
MID_BAND = (100, 2_000)  # mid-df ranks: fresh queries' middle term, phrases
_TERMS = np.array([f"t{i:06d}" for i in range(VOCAB)], dtype=object)
_CJK_POOL = np.array([
    "搜索", "索引", "查询", "分词", "排序", "评分", "文档", "字段",
    "索引器", "检索", "合并", "缓存", "分段", "词项", "倒排", "相似度",
], dtype=object)
_PUNCT = np.array([",", ".", ";", "!", "?"], dtype=object)


def term(rank: int) -> str:
    return str(_TERMS[rank])


def make_corpus(n_docs: int, seed: int, url_tag: str = "base",
                mean_len: float = DOC_TOKENS) -> pd.DataFrame:
    """``n_docs`` documents ``(url, warc_ts, text, lang)``; the same
    ``(n_docs, seed, url_tag)`` always gives the same table. ``url_tag``
    keeps delta batches' keys disjoint from the base corpus."""
    rng = np.random.default_rng([seed, n_docs, int.from_bytes(
        hashlib.sha256(url_tag.encode()).digest()[:4], "little")])
    site_ids = (rng.zipf(1.3, n_docs) - 1) % 500
    urls = [f"https://site{s:04d}.example/{url_tag}/{i:08x}"
            for i, s in enumerate(site_ids)]
    base = np.datetime64("2025-01-01T00:00:00", "us")
    warc_ts = base + rng.integers(0, 180 * 86400, n_docs).astype(
        "timedelta64[s]")
    langs = rng.choice(["en", "zh", "de"], size=n_docs, p=[0.85, 0.10, 0.05])
    lens = np.clip(np.round(rng.lognormal(np.log(mean_len), 0.6, n_docs)),
                   5, 2000).astype(np.int64)
    total = int(lens.sum())
    toks = _TERMS[(rng.zipf(1.07, total) - 1) % VOCAB]
    r = rng.random(total)
    cjk = r < 0.005
    toks[cjk] = rng.choice(_CJK_POOL, size=int(cjk.sum()))
    toks[(r >= 0.005) & (r < 0.006)] = "x" * 600
    punct = (r >= 0.006) & (r < 0.026)
    toks[punct] = toks[punct] + rng.choice(_PUNCT, size=int(punct.sum()))
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    return pd.DataFrame({"url": urls, "warc_ts": pd.Series(warc_ts),
                         "text": texts, "lang": langs})


def corpus_digest(pdf: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for url, text in zip(pdf["url"], pdf["text"]):
        h.update(url.encode())
        h.update(b"\0")
        h.update(text.encode())
        h.update(b"\1")
    return h.hexdigest()


def parquet_text_bytes(path: str) -> int:
    """UTF-8 bytes of a corpus file's ``text`` column: the denominator of
    ``index_bytes_per_text_byte``."""
    col = pq.read_table(path, columns=["text"]).column("text")
    return int(pc.sum(pc.binary_length(col)).as_py())


def corpus_path(cache_dir: str, n_docs: int, seed: int, url_tag: str) -> str:
    return os.path.join(cache_dir, f"corpus-{url_tag}-n{n_docs}-s{seed}.parquet")


def make_cached(cache_dir: str, specs: list[tuple[int, str]], seed: int,
                keep: int = 24) -> None:
    """Write :func:`make_corpus` ``(n_docs, seed, url_tag)`` for each
    ``(n_docs, url_tag)`` in ``specs`` that is not cached yet. At most
    ``keep`` files stay cached, oldest removed first. A hit and a miss
    give byte-identical tables."""
    os.makedirs(cache_dir, exist_ok=True)
    made = []
    for n_docs, tag in specs:
        path = corpus_path(cache_dir, n_docs, seed, tag)
        if os.path.exists(path):
            continue
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(pa.Table.from_pandas(make_corpus(n_docs, seed, tag),
                                            preserve_index=False), tmp)
        os.replace(tmp, path)
        made.append(path)
    olds = sorted((os.path.join(cache_dir, f) for f in os.listdir(cache_dir)
                   if f.endswith(".parquet")), key=os.path.getmtime)
    for old in olds[:-keep]:
        if old not in made:
            os.remove(old)


# ---------------------------------------------------------------------------
# query streams
# ---------------------------------------------------------------------------

# make_query_strings_large's boolean/boost shapes over a term triple
BOOL_SHAPES = ("{a} {b}", "+{a} {b}", "+{a} +{b}", "({a}^2 | {b})",
               "{a} +({b} {c})", "{a}^0.5 {b}^2 {c}")
FRESH_SHAPES = BOOL_SHAPES + ('"{a} {b}"',)
BATCH_SHAPES = BOOL_SHAPES + ('"{a} {b}"', '"{a} {b}"~2', "span_ordered",
                              "span_unordered")
PHRASE_EVERY = 8          # search_fresh: 1 query in 8 is an exact phrase


def _triple(rng: np.random.Generator) -> tuple[str, str, str]:
    """One head, one mid and one tail term, each drawn log-uniformly by
    rank within its band, so every query spans the df spectrum and the
    queries of a stream cost about the same."""
    return tuple(term(int(math.exp(rng.uniform(math.log(lo + 1),
                                               math.log(hi + 1)))) - 1)
                 for lo, hi in ((0, HEAD_BAND), MID_BAND, (MID_BAND[1], VOCAB)))


def fill(shape: str, a: str, b: str, c: str):
    """One query of ``shape`` over terms ``a``, ``b``, ``c``."""
    if shape == "span_ordered":
        return ("span", a, b, 3, True)
    if shape == "span_unordered":
        return ("span", a, b, 3, False)
    return shape.format(a=a, b=b, c=c)


def bigrams(texts: list[str], rng: np.random.Generator, band: tuple[int, int],
            tries: int = 10_000) -> tuple[str, str] | None:
    """An adjacent token pair from ``texts`` whose two distinct plain
    terms both have a Zipf rank in ``band``."""
    for _ in range(tries):
        toks = texts[int(rng.integers(len(texts)))].split(" ")
        j = int(rng.integers(max(1, len(toks) - 1)))
        pair = toks[j:j + 2]
        if (len(pair) == 2 and pair[0] != pair[1]
                and all(len(t) == 7 and t[0] == "t" and t[1:].isdigit()
                        and band[0] <= int(t[1:]) < band[1] for t in pair)):
            return pair[0], pair[1]
    return None


def fresh_queries(texts: list[str], seed: int) -> Iterator[str]:
    """The fresh-query stream (search_fresh, ingest_churn's readers):
    head/mid/tail term triples in the boolean shapes, plus one mid-df
    exact phrase (a real corpus bigram) in every :data:`PHRASE_EVERY`.
    No query repeats within a stream."""
    rng = np.random.default_rng([seed, 1])
    seen: set[str] = set()
    i = misses = 0
    while True:
        if i % PHRASE_EVERY == PHRASE_EVERY - 1:
            pair = bigrams(texts, rng, MID_BAND)
            q = f'"{pair[0]} {pair[1]}"' if pair else None
        else:
            a, b, c = _triple(rng)
            q = BOOL_SHAPES[i % len(BOOL_SHAPES)].format(a=a, b=b, c=c)
        if q is None or q in seen:
            misses += 1
            if misses < 100:        # retry the slot; a tiny corpus may
                continue            # run out of distinct phrases
        else:
            seen.add(q)
            yield q
        i += 1
        misses = 0


def batch_queries(seed: int, size: int = 64) -> Iterator[list]:
    """batch_heavy's stream: batches of ``size`` queries over the head
    terms. A quarter are positional (exact phrase, sloppy phrase, ordered
    and unordered span-near over distinct head-term pairs), the rest
    flattenable booleans. Every batch has the same mix of shapes, and
    terms are dealt from shuffled decks of the head pool (one for the
    positional slots, one for the booleans), so every head term is used
    about equally often: a batch's cost then hardly depends on the seed,
    while its terms, pairings and order are new each time."""
    rng = np.random.default_rng([seed, 2])
    positional = BATCH_SHAPES[len(BOOL_SHAPES):]
    n_pos = size // 4
    shapes = ([positional[i % len(positional)] for i in range(n_pos)]
              + [BOOL_SHAPES[i % len(BOOL_SHAPES)] for i in range(size - n_pos)])
    decks: dict[bool, list[int]] = {True: [], False: []}

    def deal(deck: list[int], taken: list[int]) -> int:
        # the first card not already in this query; reshuffle when none is
        while True:
            for j, t in enumerate(deck):
                if t not in taken:
                    return deck.pop(j)
            deck.extend(rng.permutation(HEAD_TERMS).tolist())

    while True:
        batch = []
        for i in rng.permutation(size):
            shape = shapes[i]
            deck = decks[shape in positional]
            ranks: list[int] = []
            for _ in range(3 if "{c}" in shape else 2):
                ranks.append(deal(deck, ranks))
            a, b, *c = (term(r) for r in ranks)
            batch.append(fill(shape, a, b, c[0] if c else ""))
        yield batch


def stream_digest(items, n: int = 256) -> str:
    h = hashlib.sha256()
    for _, item in zip(range(n), items):
        h.update(repr(item).encode())
    return h.hexdigest()
