"""The benchmark's calls into the engine, each wrapped in spans.

Every public entry point the workloads use goes through here, so each
call is timed from outside the engine and its Spark jobs land in the
calling operation's job group.
"""

from __future__ import annotations

import math
import os

import numpy as np

from rucene_spark import merge
from rucene_spark.build import IndexWriter, load_manifest, seg_dir
from rucene_spark.query import (QueryStringQueryBuilder, SpanNearQuery,
                                SpanTermQuery)
from rucene_spark.search import IndexSearcher

FIELD = "text"
K = 10


def traced_searcher_class(tracer):
    """An :class:`IndexSearcher` whose construction and ``warmup`` are
    spans of the calling thread's operation. ``SearcherManager`` builds
    its searchers through the class given to :func:`install_searcher`."""

    class TracedSearcher(IndexSearcher):
        def __init__(self, *args, **kwargs):
            with tracer.span("search.init"):
                super().__init__(*args, **kwargs)

        def warmup(self):
            with tracer.span("search.warmup"):
                return super().warmup()

    return TracedSearcher


def install_searcher(streaming_module, cls) -> None:
    """Point ``SearcherManager`` at ``cls``; fail loudly if the manager no
    longer builds searchers through its module's ``IndexSearcher``."""
    if not issubclass(cls, streaming_module.IndexSearcher):
        raise RuntimeError("streaming.IndexSearcher is not the engine's searcher")
    streaming_module.IndexSearcher = cls


def to_query(spec):
    """Engine query for one generated spec (query string or span tuple)."""
    if isinstance(spec, tuple) and spec[0] == "span":
        _, a, b, slop, in_order = spec
        return SpanNearQuery([SpanTermQuery(FIELD, a), SpanTermQuery(FIELD, b)],
                             slop=slop, in_order=in_order)
    return QueryStringQueryBuilder(spec, [(FIELD, 1.0)]).build()


def _execute(tracer, df, traced: bool):
    if traced:
        # force physical planning now so collect() times execution only
        with tracer.span("catalyst"):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("search.exec"):
        return df.collect()


def search(tracer, searcher, spec, traced: bool, k: int = K,
           kind: str = "query"):
    """One ``search(q, k).collect()`` as an operation of ``kind``."""
    with tracer.op(kind):
        with tracer.span("query.parse"):
            q = to_query(spec)
        with tracer.span("search.plan"):
            df = searcher.search(q, k)
        return _execute(tracer, df, traced)


def search_many(tracer, searcher, specs, traced: bool, k: int = K,
                kind: str = "batch"):
    """One ``search_many(batch, k).collect()`` as an operation of
    ``kind``; returns rows grouped per query index."""
    with tracer.op(kind):
        with tracer.span("query.parse"):
            qs = [to_query(s) for s in specs]
        with tracer.span("search.plan"):
            df = searcher.search_many(qs, k)
        rows = _execute(tracer, df, traced)
    out: list[list] = [[] for _ in specs]
    for r in rows:
        out[int(r["qid"])].append(r)
    return out


def build(tracer, spark, index_dir: str, docs, n_segments: int) -> dict:
    with tracer.op("build"):
        return IndexWriter(spark, index_dir, n_segments=n_segments,
                           key_col="url").build(docs)


def add_documents(tracer, spark, index_dir: str, docs, n_segments: int) -> dict:
    with tracer.op("add"):
        return IndexWriter(spark, index_dir, n_segments=n_segments,
                           key_col="url").add_documents(docs)


def delete_by_keys(tracer, index_dir: str, keys: list) -> int:
    with tracer.op("delete"):
        return merge.delete_by_keys(index_dir, keys)


def maybe_merge(tracer, spark, index_dir: str, policy: dict) -> list[dict]:
    with tracer.op("merge"):
        return merge.maybe_merge(spark, index_dir,
                                 merge.TieredMergePolicy(**policy))


def open_searcher(tracer, cls, spark, index_dir: str):
    """A warmed searcher, opened the way a warm refresh opens one."""
    with tracer.op("refresh"):
        return cls(spark, index_dir).warmup()


def refresh(tracer, manager) -> bool:
    with tracer.op("refresh"):
        return manager.maybe_refresh()


# ---------------------------------------------------------------------------
# storage, measured from outside
# ---------------------------------------------------------------------------


def tree_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``, recursively.
    ``rucene_spark.storage.dir_size`` walks one level only, so it cannot
    size a committed index tree."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def index_stats(index_dir: str) -> dict:
    m = load_manifest(index_dir)
    nbytes, files = tree_stats(index_dir)
    tomb = os.path.join(index_dir, merge.TOMBSTONES)
    tombstones = 0
    if os.path.isdir(tomb):
        import pyarrow.parquet as pq
        tombstones = sum(pq.ParquetFile(os.path.join(tomb, f)).metadata.num_rows
                         for f in os.listdir(tomb) if f.endswith(".parquet"))
    return {"bytes": nbytes, "files": files, "segments": len(m["segments"]),
            "docs": int(m["doc_count"]), "tombstones": tombstones}


def merged_bytes(index_dir: str, rows: list[dict]) -> int:
    """Bytes written by merges: the manifest-recorded size of each merged
    segment, or its directories' size where the row has none."""
    total = 0
    for r in rows:
        if "bytes" in r:
            total += int(r["bytes"])
        else:
            total += sum(tree_stats(os.path.join(index_dir, t, seg_dir(r)))[0]
                         for t in ("postings", "docmeta", "segstats"))
    return total


def score_bits(score: float) -> int:
    return int(np.float32(score).view(np.int32))


def finite32(score: float) -> bool:
    return math.isfinite(score) and math.isfinite(float(np.float32(score)))
