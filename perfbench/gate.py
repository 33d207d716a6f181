"""The correctness gate. Every failure counts in ``error_rate``.

* :func:`check_rows` holds every result on the main index to the top-k
  invariants.
* :class:`Gate` records failures and folds every compared result into a
  digest, so two runs with the same seed and code compare exactly.
* :func:`oracle_slice` compares each query shape a workload uses against
  ``rucene_spark.oracle.OracleSearcher`` on a small slice built by the
  same writer, requiring rank and float32 score identity.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import Counter

import numpy as np

from perfbench import engine, gen

SLICE_DOCS = 160
SLICE_SEGMENTS = 2


class Gate:
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._digest: list[tuple[str, tuple]] = []

    def record(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.problems) < 20:
                    self.problems.append(what)

    def fold(self, label: str, rows) -> None:
        """Add one result to the run's digest."""
        with self._lock:
            self._digest.append((label, tuple(hits(rows))))

    def digest(self) -> str:
        h = hashlib.sha256()
        for item in sorted(self._digest):
            h.update(repr(item).encode())
        return h.hexdigest()[:16]


def check_rows(rows, k: int, deleted=frozenset()) -> str | None:
    """The first top-k invariant ``rows`` break, or None: at most k rows,
    sorted by (score desc, seg, doc), finite float32 scores, no deleted
    key. (k rows or all matches is checked with ``count`` afterwards.)"""
    if len(rows) > k:
        return f"{len(rows)} rows > k={k}"
    order = [(-r["score"], r["seg"], r["doc"]) for r in rows]
    if order != sorted(order):
        return "rows not sorted by (score desc, seg, doc)"
    for r in rows:
        if not engine.finite32(r["score"]):
            return f"non-finite score {r['score']!r}"
        if r["url"] in deleted:
            return f"deleted key {r['url']} returned"
    return None


def hits(rows) -> list[tuple[str, int]]:
    """A result as (key, float32 score bits) in rank order."""
    return [(r["url"], engine.score_bits(r["score"])) for r in rows]


def same_rows(a, b) -> bool:
    return hits(a) == hits(b)


# ---------------------------------------------------------------------------
# oracle slice
# ---------------------------------------------------------------------------


def slice_queries(texts: list[str], shapes, seed: int) -> list:
    """One query per shape, over terms the slice holds: a head term, two
    mid terms, and for positional shapes the slice's most common bigram."""
    counts = Counter(t for text in texts for t in set(text.split(" "))
                     if len(t) == 7 and t[0] == "t" and t[1:].isdigit())
    # ties by name: counting through set() follows string hashing, which
    # differs between processes
    ranked = sorted(counts, key=lambda t: (-counts[t], t))
    rng = np.random.default_rng([seed, 3])
    mid = [t for t in ranked if 3 <= counts[t] <= len(texts) // 4]
    a = ranked[int(rng.integers(min(5, len(ranked))))]
    b, c = (mid[int(i)] for i in rng.choice(len(mid), size=2, replace=False))
    pairs = Counter((x, y) for text in texts
                    for x, y in zip(text.split(" "), text.split(" ")[1:])
                    if x != y and x in counts and y in counts)
    p, q = min(pairs, key=lambda pq: (-pairs[pq], pq))
    out = []
    for shape in shapes:
        if shape.startswith("span") or shape.startswith('"'):
            out.append(gen.fill(shape, p, q, c))
        else:
            out.append(gen.fill(shape, a, b, c))
    return out


def oracle_slice(spark, tracer, work: str, seed: int, shapes,
                 gate: Gate) -> None:
    """Build the slice with the engine's writer and the oracle, then run
    one query per shape and compare. The slice is far below the 100k
    documents from which ``search()`` routes term and boolean queries to
    the per-segment collector kernels; ``search_many()`` uses those
    kernels at any size, so the slice runs through it, as one batch."""
    from rucene_spark.build import IndexWriter
    from rucene_spark.oracle import OracleSearcher, build_oracle_index
    from rucene_spark.search import IndexSearcher

    pdf = gen.make_corpus(SLICE_DOCS, seed, url_tag="slice")
    idx = os.path.join(work, "slice_idx")
    with tracer.op("gate"):
        IndexWriter(spark, idx, n_segments=SLICE_SEGMENTS,
                    key_col="url").build(spark.createDataFrame(pdf))
    oracle = OracleSearcher(build_oracle_index(
        pdf, key_col="url", n_segments=SLICE_SEGMENTS))
    specs = slice_queries(list(pdf["text"]), shapes, seed)
    got = engine.search_many(tracer, IndexSearcher(spark, idx), specs,
                             traced=False, kind="gate")
    for shape, spec, rows in zip(shapes, specs, got):
        want = oracle.search(engine.to_query(spec), engine.K)
        ok = hits(rows) == [(key, engine.score_bits(s)) for key, s, _ in want]
        gate.record(ok and check_rows(rows, engine.K) is None,
                    f"oracle slice: {shape} {spec!r}")
        gate.fold(f"slice {spec!r}", rows)
