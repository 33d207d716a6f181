"""Generator determinism: the same seed gives the same inputs."""

import collections
import itertools
import os
import re
import subprocess
import sys

from perfbench import gate, gen


def test_corpus_same_seed_same_digest():
    a = gen.make_corpus(300, seed=5)
    b = gen.make_corpus(300, seed=5)
    assert gen.corpus_digest(a) == gen.corpus_digest(b)
    assert gen.corpus_digest(a) != gen.corpus_digest(gen.make_corpus(300, seed=6))


def test_corpus_tags_give_disjoint_keys():
    base = gen.make_corpus(200, seed=1)
    fresh = gen.make_corpus(200, seed=1, url_tag="fresh0")
    assert base["url"].is_unique
    assert not set(base["url"]) & set(fresh["url"])


def test_corpus_shape():
    pdf = gen.make_corpus(2000, seed=3)
    toks = [t for text in pdf["text"] for t in text.split(" ")]
    n = len(toks)
    assert abs(n / len(pdf) - gen.DOC_TOKENS) < 0.25 * gen.DOC_TOKENS
    # Zipf: rank 0 is the most common term
    assert toks.count("t000000") > toks.count("t000001") > toks.count("t000100")
    assert sum(t == "x" * 600 for t in toks) > 0
    assert sum(not t.isascii() for t in toks) > 0
    assert sum(t[-1] in ",.;!?" for t in toks) / n > 0.01


def test_cached_corpus_matches_generated(tmp_path):
    gen.make_cached(str(tmp_path), [(150, "base")], seed=9)
    import pandas as pd

    got = pd.read_parquet(gen.corpus_path(str(tmp_path), 150, 9, "base"))
    want = gen.make_corpus(150, seed=9)
    assert gen.corpus_digest(got) == gen.corpus_digest(want)
    assert gen.parquet_text_bytes(gen.corpus_path(str(tmp_path), 150, 9, "base")) \
        == sum(len(t.encode()) for t in want["text"])


def test_fresh_stream_deterministic_and_never_repeats():
    texts = list(gen.make_corpus(500, seed=2)["text"])
    a = gen.stream_digest(gen.fresh_queries(texts, 4))
    assert a == gen.stream_digest(gen.fresh_queries(texts, 4))
    assert a != gen.stream_digest(gen.fresh_queries(texts, 5))
    qs = list(itertools.islice(gen.fresh_queries(texts, 4), 400))
    assert len(set(qs)) == len(qs)
    assert sum(q.startswith('"') for q in qs) == 400 // gen.PHRASE_EVERY


def test_batch_stream_deterministic_and_mixed():
    a = gen.stream_digest(gen.batch_queries(7), n=8)
    assert a == gen.stream_digest(gen.batch_queries(7), n=8)
    batches = list(itertools.islice(gen.batch_queries(7), 8))
    assert all(len(b) == 64 for b in batches)
    assert batches[0] != batches[1]
    flat = [q for b in batches for q in b]
    for b in batches:
        assert sum(isinstance(q, tuple) or q.startswith('"') for q in b) == 16
    heads = {gen.term(r) for r in range(gen.HEAD_TERMS)}
    for q in flat:
        terms = q[1:3] if isinstance(q, tuple) else re.findall(r"t\d{6}", q)
        assert terms and set(terms) <= heads, q


def test_batch_stream_uses_head_terms_evenly():
    batches = list(itertools.islice(gen.batch_queries(3), 4))
    for positional in (True, False):
        counts = collections.Counter(
            t for b in batches for q in b
            if (isinstance(q, tuple) or q.startswith('"')) == positional
            for t in (q[1:3] if isinstance(q, tuple) else re.findall(r"t\d{6}", q)))
        assert len(counts) == gen.HEAD_TERMS
        assert max(counts.values()) - min(counts.values()) <= 2, counts


def test_slice_queries_cover_every_shape():
    texts = list(gen.make_corpus(160, seed=1, url_tag="slice")["text"])
    for shapes in (gen.FRESH_SHAPES, gen.BATCH_SHAPES):
        qs = gate.slice_queries(texts, shapes, seed=1)
        assert len(qs) == len(shapes)
        assert qs == gate.slice_queries(texts, shapes, seed=1)


def test_inputs_do_not_depend_on_the_process_hash_seed():
    code = (
        "from perfbench import gate, gen\n"
        "pdf = gen.make_corpus(400, seed=8)\n"
        "t = list(pdf['text'])\n"
        "print(gen.corpus_digest(pdf), gen.stream_digest(gen.fresh_queries(t, 8)),"
        " gen.stream_digest(gen.batch_queries(8), n=4),"
        " gate.slice_queries(t[:160], gen.BATCH_SHAPES, 8))\n")
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    outs = {subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                           capture_output=True, text=True,
                           env={**os.environ, "PYTHONHASHSEED": str(h)}).stdout
            for h in (1, 2, 3)}
    assert len(outs) == 1
