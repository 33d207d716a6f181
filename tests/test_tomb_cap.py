"""Tombstone-broadcast cap knob (RUCENE_TOMB_BCAST_CAP).

The searcher broadcasts the tombstone table while it is small and falls
back to a shuffle anti-join above the cap (live_docs posture,
SURVEY §2.1). The 30M-doc probe showed the old hardwired 500k cap was
the first scale cliff (BENCH_30M.json: 2% deletes = 600k tombstones →
every post-merge query paid a fresh 30M-row anti-join, 1.1s → 20.5s
warm), so the cap is now env-tunable with a 4M default. Both routes
must return identical results — the cap is a physical-plan choice,
never a semantics choice.
"""

import pandas as pd
import pytest

from rucene_spark.build import IndexWriter
from rucene_spark.merge import delete_by_keys
from rucene_spark.query import MatchAllDocsQuery, TermQuery
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tombcap_idx"))
    corpus = make_corpus(600, seed=23)
    IndexWriter(spark, d, n_segments=4).build(
        spark.createDataFrame(corpus))
    victims = corpus["url"].iloc[5:90:7].tolist()
    delete_by_keys(d, victims)
    return d


def _topk(s, q, k=10):
    return [(r["url"], round(float(r["score"]), 5))
            for r in s.search(q, k).collect()]


def test_cap_forces_shuffle_path_with_identical_results(
        spark, index_dir, monkeypatch):
    s_bcast = IndexSearcher(spark, index_dir)
    assert s_bcast._bcast_deleted  # 13 tombstones < default 4M cap

    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "1")
    s_shuf = IndexSearcher(spark, index_dir)
    assert not s_shuf._bcast_deleted

    q = TermQuery("text", "t000000")
    assert _topk(s_shuf, q) == _topk(s_bcast, q)
    assert s_shuf.count(q) == s_bcast.count(q)
    assert (s_shuf.count(MatchAllDocsQuery())
            == s_bcast.count(MatchAllDocsQuery()))


def test_default_cap_broadcasts_at_probe_scale_count(
        spark, index_dir, monkeypatch):
    # the 30M-probe regression shape: 600k tombstones must stay on the
    # broadcast route under the default cap (counted from parquet
    # footers, so pin the boundary with the env knob instead of
    # materializing 600k rows here)
    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "13")
    assert IndexSearcher(spark, index_dir)._bcast_deleted
    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "12")
    assert not IndexSearcher(spark, index_dir)._bcast_deleted


def test_shared_post_delete_searcher_threads(spark, index_dir, monkeypatch):
    """Serving threads share one post-delete searcher. Their first
    collector queries race to fill the tombstone memo, whose fill flips
    the session-global Arrow conf and restores it: results must equal
    serial calls and the conf must end at its prior value."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from rucene_spark.query import PhraseQuery

    monkeypatch.setenv("RUCENE_COLLECTOR_MIN_DOCS", "0")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "false")
    queries = ([TermQuery("text", f"t{i:06d}") for i in range(6)]
               + [PhraseQuery.build("text", ["t000000", "t000001"],
                                    slop=2)] * 2)
    serial = [_topk(IndexSearcher(spark, index_dir), q) for q in queries]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(3):  # a fresh searcher each round: an empty memo
            s = IndexSearcher(spark, index_dir)
            with ThreadPoolExecutor(max_workers=4) as ex:
                futs = [ex.submit(_topk, s, q) for q in queries]
                got = [f.result(timeout=600) for f in futs]
            assert got == serial
            assert spark.conf.get(key) == "false"
    finally:
        sys.setswitchinterval(old)
        spark.conf.set(key, prev)
