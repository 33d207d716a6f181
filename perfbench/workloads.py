"""The three workloads. Each is a closed loop with at most 4 threads.

A workload function gets a :class:`Ctx` whose Spark session is already
up. It first runs the oracle comparison on a small slice, which also
takes the session's first-use costs (worker start, JIT) out of the timed
build; then it sets up its index, marks ``ctx.ready`` (the end of
set-up), runs its measured window, and checks what it must re-query
after the window, so the checks cost no measured time. Measurements go
into ``ctx.out``.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import engine, gate as gatemod, gen

BASE_DOCS = 100_000
SEGMENTS = 4
FRESH_CLIENTS = 4
BATCH_SIZE = 64
CHURN_READERS = 3
CHURN_CYCLES = 2
CHURN_ADD_DOCS = 1_000
CHURN_ADD_SEGMENTS = 3
CHURN_DELETE_SHARE = 0.01
# a floor below the delta segments' size makes the policy merge the six
# deltas and leave the base segments alone (at the default 2 MiB floor
# every segment here is "small" and each merge rewrites the whole index)
MERGE_POLICY = dict(floor_segment_bytes=64 << 10, segs_per_tier=3.0)
OPENS = 5                # searcher opens in the serving workloads' set-up
SAMPLE = 4               # queries compared between search() and search_many()
COUNT_CHECKS = 4         # short results checked against count()


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    corpus_path: str
    delta_paths: list
    seed: int
    seconds: float
    traced: bool
    searcher_cls: type
    gate: gatemod.Gate = field(default_factory=gatemod.Gate)
    ready: float = 0.0          # epoch s when set-up ended
    out: dict = field(default_factory=dict)


def _setup_index(ctx: Ctx, name: str) -> tuple[str, dict]:
    idx = os.path.join(ctx.work, name)
    docs = ctx.spark.read.parquet(ctx.corpus_path)
    t0 = time.perf_counter()
    engine.build(ctx.tracer, ctx.spark, idx, docs, SEGMENTS)
    build_s = time.perf_counter() - t0
    st = engine.index_stats(idx)
    ctx.out["build_docs_per_s"] = st["docs"] / build_s
    ctx.out["build_output_bytes"] = st["bytes"]
    return idx, st


def _window(ctx: Ctx, n_threads: int, body, until=None) -> float:
    """Run ``body()`` (which returns the queries it completed) in
    ``n_threads`` closed-loop threads until the window closes
    (``seconds`` elapsed and ``until()``, if given, true); returns the
    queries completed per second. An op in flight at the deadline still
    completes and counts; each thread's rate runs to its own last
    completion, so threads idle at the end do not dilute it."""
    t0 = time.time()
    deadline = t0 + ctx.seconds

    def loop() -> float:
        done = 0
        while time.time() < deadline or (until is not None and not until()):
            done += body()
        return done / (time.time() - t0)

    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        return sum(f.result() for f in [ex.submit(loop)
                                        for _ in range(n_threads)])


class _Stream:
    """A shared, numbered query stream."""

    def __init__(self, it) -> None:
        self._it = enumerate(it)
        self._lock = threading.Lock()

    def next(self):
        with self._lock:
            return next(self._it)


class _Serving:
    """Per-op latencies, failures and short results of the serving loop."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.lock = threading.Lock()
        self.lat: list[float] = []
        self.queries = 0
        self.results: dict[int, tuple] = {}     # stream index -> (spec, rows)
        self.short: list[tuple] = []            # (searcher, spec, n_rows)

    def query(self, searcher, i: int, spec, deleted=frozenset()) -> int:
        ctx = self.ctx
        t0 = time.perf_counter()
        try:
            rows = engine.search(ctx.tracer, searcher, spec, ctx.traced)
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            ctx.gate.record(False, f"search {spec!r}: {type(e).__name__}: {e}")
            return 0
        dt = time.perf_counter() - t0
        bad = gatemod.check_rows(rows, engine.K, deleted)
        ctx.gate.record(bad is None, f"search {spec!r}: {bad}")
        with self.lock:
            self.lat.append(dt)
            self.queries += 1
            if i < SAMPLE:
                self.results[i] = (spec, rows)
            if len(rows) < engine.K and len(self.short) < COUNT_CHECKS:
                self.short.append((searcher, spec, len(rows)))
        return 1

    def finish(self, qps: float, queries_per_op: int = 1) -> None:
        out = self.ctx.out
        out["qps"] = qps
        out["latency_p50_s"] = statistics.median(self.lat)
        out["latency_samples"] = len(self.lat)
        if len(self.lat) >= 100:
            out["latency_p90_s"] = float(np.percentile(self.lat, 90))
        out["queries_per_op"] = queries_per_op


def _check_short(ctx: Ctx, short: list[tuple]) -> None:
    """k rows or all matches: a short result must hold every match."""
    def one(item):
        searcher, spec, n = item
        with ctx.tracer.op("gate"):
            want = searcher.count(engine.to_query(spec))
        ctx.gate.record(want == n, f"count {spec!r}: {want} matches, {n} rows")

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(one, short))


def _check_search_many(ctx: Ctx, searcher, specs, singles) -> None:
    """search() and search_many() must return identical results."""
    many = engine.search_many(ctx.tracer, searcher, specs, False, kind="gate")
    for spec, a, b in zip(specs, singles, many):
        ctx.gate.record(gatemod.same_rows(a, b),
                        f"search vs search_many differ on {spec!r}")
        ctx.gate.fold(f"sample {spec!r}", a)


def _singles(ctx: Ctx, searcher, specs) -> list:
    with ThreadPoolExecutor(max_workers=4) as ex:
        return list(ex.map(lambda s: engine.search(
            ctx.tracer, searcher, s, False, kind="gate"), specs))


def _texts(ctx: Ctx) -> list[str]:
    return pd.read_parquet(ctx.corpus_path, columns=["text"])["text"].tolist()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def search_fresh(ctx: Ctx) -> None:
    """4 clients share one searcher; no query repeats within a run."""
    stream = _Stream(gen.fresh_queries(_texts(ctx), ctx.seed))
    gatemod.oracle_slice(ctx.spark, ctx.tracer, ctx.work, ctx.seed,
                         gen.FRESH_SHAPES, ctx.gate)
    idx, st = _setup_index(ctx, "idx")
    searcher = _open(ctx, idx)
    ctx.ready = time.time()
    srv = _Serving(ctx)
    srv.finish(_window(ctx, FRESH_CLIENTS,
                       lambda: srv.query(searcher, *stream.next())))
    _after_window(ctx, idx)
    _check_short(ctx, srv.short)
    sample = [srv.results[i] for i in sorted(srv.results)]
    _check_search_many(ctx, searcher, [s for s, _ in sample],
                       [r for _, r in sample])


def batch_heavy(ctx: Ctx) -> None:
    """1 client sends batches of 64 head-term queries to search_many."""
    stream = _Stream(gen.batch_queries(ctx.seed, BATCH_SIZE))
    gatemod.oracle_slice(ctx.spark, ctx.tracer, ctx.work, ctx.seed,
                         gen.BATCH_SHAPES, ctx.gate)
    idx, st = _setup_index(ctx, "idx")
    searcher = _open(ctx, idx)
    srv = _Serving(ctx)

    def check(specs, got) -> None:
        for s, rows in zip(specs, got):
            bad = gatemod.check_rows(rows, engine.K)
            ctx.gate.record(bad is None, f"search_many {s!r}: {bad}")

    # the stream's first batch, untimed, warms the head terms' stats and
    # every kernel; its results are the search() comparison sample
    _, warm = stream.next()
    first = engine.search_many(ctx.tracer, searcher, warm, False, kind="warm")
    check(warm, first)
    ctx.ready = time.time()

    def body():
        _, specs = stream.next()
        t0 = time.perf_counter()
        try:
            got = engine.search_many(ctx.tracer, searcher, specs, ctx.traced)
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            for s in specs:
                ctx.gate.record(False, f"search_many {s!r}: {type(e).__name__}: {e}")
            return 0
        dt = time.perf_counter() - t0
        check(specs, got)
        with srv.lock:
            srv.lat.append(dt)
            srv.queries += len(specs)
        return len(specs)

    srv.finish(_window(ctx, 1, body), BATCH_SIZE)
    _after_window(ctx, idx)
    sample = list(zip(warm, first))[:SAMPLE]
    singles = _singles(ctx, searcher, [s for s, _ in sample])
    for (spec, many), single in zip(sample, singles):
        ctx.gate.record(gatemod.same_rows(single, many),
                        f"search vs search_many differ on {spec!r}")
        ctx.gate.fold(f"sample {spec!r}", single)


def ingest_churn(ctx: Ctx) -> None:
    """A writer runs a fixed add/delete/refresh script while 3 readers
    query through ``SearcherManager.acquire()``; then, with the readers
    stopped, the writer merges to quiescence and refreshes once more.

    The merge runs after the readers stop because on this engine a
    reader still holding the pre-merge searcher fails: the merge's GC
    removes the merged-away segment files before the refresh swaps the
    new searcher in (see NOTES.md)."""
    from rucene_spark import streaming

    texts = _texts(ctx)
    stream = _Stream(gen.fresh_queries(texts, ctx.seed))
    gatemod.oracle_slice(ctx.spark, ctx.tracer, ctx.work, ctx.seed,
                         gen.FRESH_SHAPES, ctx.gate)
    idx, st = _setup_index(ctx, "idx")
    engine.install_searcher(streaming, ctx.searcher_cls)
    refresh_s, add_s = [], []       # refresh_s: refreshes under reads
    with ctx.tracer.op("refresh"):
        manager = streaming.SearcherManager(ctx.spark, idx, warm=True)
    ctx.ready = time.time()

    live = list(pd.read_parquet(ctx.corpus_path, columns=["url"])["url"])
    deleted: set[str] = set()
    # searcher -> keys deleted before it was opened; the writer sets
    # `pending` before each refresh, so a reader holding the searcher the
    # refresh just swapped in already sees the right set
    seen_by: dict[int, tuple] = {id(manager.acquire()): (manager.acquire(),
                                                         frozenset())}
    pending = [frozenset()]
    lock = threading.Lock()
    done = threading.Event()
    rng = np.random.default_rng([ctx.seed, 4])
    added = 0

    def writer():
        nonlocal added
        n_base = len(live)      # live[:n_base] are base keys
        try:
            for path in ctx.delta_paths:
                t0 = time.perf_counter()
                engine.add_documents(ctx.tracer, ctx.spark, idx,
                                     ctx.spark.read.parquet(path),
                                     CHURN_ADD_SEGMENTS)
                add_s.append(time.perf_counter() - t0)
                added += CHURN_ADD_DOCS
                live.extend(pd.read_parquet(path, columns=["url"])["url"])
                # 1% of live keys: a quarter from the fresh documents
                n_del = int(len(live) * CHURN_DELETE_SHARE)
                pick = set(int(i) for i in rng.choice(
                    np.arange(n_base, len(live)), n_del // 4, replace=False))
                pick |= set(int(i) for i in rng.choice(
                    n_base, n_del - len(pick), replace=False))
                keys = [live[i] for i in sorted(pick)]
                for i in sorted(pick, reverse=True):
                    live.pop(i)
                n_base -= sum(1 for i in pick if i < n_base)
                engine.delete_by_keys(ctx.tracer, idx, keys)
                deleted.update(keys)
                _refresh()
        finally:
            done.set()

    def _refresh():
        with lock:
            pending[0] = frozenset(deleted)
        t0 = time.perf_counter()
        swapped = engine.refresh(ctx.tracer, manager)
        if swapped:
            refresh_s.append(time.perf_counter() - t0)
            s = manager.acquire()
            with lock:
                seen_by[id(s)] = (s, pending[0])

    srv = _Serving(ctx)

    def reader():
        s = manager.acquire()
        with lock:
            known = seen_by.get(id(s))
            dels = known[1] if known and known[0] is s else pending[0]
        return srv.query(s, *stream.next(), deleted=dels)

    with ThreadPoolExecutor(max_workers=1) as ex:
        wf = ex.submit(writer)
        qps = _window(ctx, CHURN_READERS, reader, until=done.is_set)
        wf.result()
    srv.finish(qps)
    # the readers' searchers still have their files until the merge
    _check_short(ctx, srv.short)
    ctx.out["refresh_s"] = statistics.median(refresh_s)
    t0 = time.perf_counter()
    merges = engine.maybe_merge(ctx.tracer, ctx.spark, idx, MERGE_POLICY)
    ctx.out["merge_s"] = time.perf_counter() - t0
    _refresh()
    ctx.out["add_docs_per_s"] = added / sum(add_s)
    ctx.out["merges"] = len(merges)
    ctx.out["merge_bytes"] = engine.merged_bytes(idx, merges)
    _after_window(ctx, idx)
    # the final index is the same on every run with this seed: probe it
    sample = list(itertools.islice(gen.fresh_queries(texts, ctx.seed), SAMPLE))
    probe = engine.search_many(ctx.tracer, manager.acquire(), sample, False,
                               kind="gate")
    for spec, rows in zip(sample, probe):
        bad = gatemod.check_rows(rows, engine.K, frozenset(deleted))
        ctx.gate.record(bad is None, f"final {spec!r}: {bad}")
        ctx.gate.fold(f"final {spec!r}", rows)


def _open(ctx: Ctx, idx: str):
    """Open the serving searcher the way a warm refresh does, a few
    times; the median open is the serving workloads' ``refresh_s``."""
    walls = []
    for _ in range(OPENS):
        t0 = time.perf_counter()
        s = engine.open_searcher(ctx.tracer, ctx.searcher_cls, ctx.spark, idx)
        walls.append(time.perf_counter() - t0)
    ctx.out["refresh_s"] = statistics.median(walls)
    return s


def _after_window(ctx: Ctx, idx: str) -> None:
    """Index size and peak memory, before the checks add their own."""
    ctx.out["index"] = engine.index_stats(idx)
    jvm = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
    ctx.out["peak_rss_jvm_mb"] = _hwm_mb(jvm)
    ctx.out["peak_rss_py_mb"] = _hwm_mb(os.getpid())


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


WORKLOADS = {
    "search_fresh": search_fresh,
    "batch_heavy": batch_heavy,
    "ingest_churn": ingest_churn,
}
