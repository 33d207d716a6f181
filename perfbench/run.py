"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload batch_heavy --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts Spark ``local[4]`` in this
process, builds the workload's index from a seeded corpus, measures for
``--seconds``, checks every result, and prints one JSON object as the
last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` Spark's event log is
on and the metrics are the per-layer ones, and the full trace is written
to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import engine, gen, layers, metrics, workloads  # noqa: E402
from perfbench.eventlog import by_group, read_events  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402

CORES = 4


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seed < 0 or a.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return a


def _inputs(cache: str, workload: str, seed: int) -> tuple[str, list[str]]:
    """Corpus paths for the run (base, then ingest_churn's deltas),
    generated in a child process on a cache miss so this process's peak
    memory does not depend on the cache."""
    specs = [(workloads.BASE_DOCS, "base")]
    if workload == "ingest_churn":
        specs += [(workloads.CHURN_ADD_DOCS, f"fresh{c}")
                  for c in range(workloads.CHURN_CYCLES)]
    paths = [gen.corpus_path(cache, n, seed, tag) for n, tag in specs]
    if not all(os.path.exists(p) for p in paths):
        code = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
                "from perfbench import gen; "
                "gen.make_cached(sys.argv[2], json.loads(sys.argv[3]), int(sys.argv[4]))")
        proc = subprocess.run([sys.executable, "-c", code, ROOT, cache,
                               json.dumps(specs), str(seed)])
        if proc.returncode != 0:
            raise RuntimeError(f"corpus generation failed ({proc.returncode})")
    return paths[0], paths[1:]


def _spark(work: str, traced: bool):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's JVM and Python workers inherit these; nothing lands outside
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    if traced:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", ev)
    return b.getOrCreate()


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python worker daemon, the
    launcher's helpers) re-parented to this process, so :func:`_reap` can
    wait for every process the run started. Linux only; a no-op elsewhere."""
    try:
        import ctypes
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    """Pids whose parent is this process, read from ``/proc``."""
    me, out = os.getpid(), []
    try:
        pids = [d for d in os.listdir("/proc") if d.isdigit()]
    except OSError:
        return out
    for d in pids:
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def _reap(grace: float = 15.0) -> None:
    """Wait for every child (own or adopted) to end: ``grace`` seconds on
    their own, then SIGTERM, then SIGKILL."""
    deadline, sig = time.time() + grace, None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        if time.time() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        time.sleep(0.05)


def main(argv=None) -> int:
    a = _args(argv)
    _become_subreaper()
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(a, base, work)
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)


def _run(a, base: str, work: str) -> int:
    t0 = time.time()
    corpus, deltas = _inputs(os.path.join(base, "cache"), a.workload, a.seed)
    corpus_s = time.time() - t0
    spark = _spark(work, bool(a.trace))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext)
        ctx = workloads.Ctx(spark=spark, tracer=tracer, work=work,
                            corpus_path=corpus, delta_paths=deltas, seed=a.seed,
                            seconds=a.seconds, traced=bool(a.trace),
                            searcher_cls=engine.traced_searcher_class(tracer))
        ctx.out["text_bytes"] = sum(gen.parquet_text_bytes(p)
                                    for p in [corpus] + deltas)
        workloads.WORKLOADS[a.workload](ctx)
    finally:
        _stop(spark)
    out = ctx.out
    e2e = {
        "setup_s": ctx.ready - T_START - corpus_s,
        "qps": out["qps"],
        "latency_p50_s": out["latency_p50_s"],
        "refresh_s": out["refresh_s"],
        "index_bytes_per_text_byte": out["index"]["bytes"] / out["text_bytes"],
    }
    g = ctx.gate
    extra = {"error_rate": g.failed / max(1, g.attempted)}
    for k in ("latency_p90_s", "add_docs_per_s", "merge_s"):
        if k in out:
            extra[k] = out[k]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{out['latency_samples']} ops of {out['queries_per_op']} "
          f"queries, digest {g.digest()}")
    for k, v in {**e2e, **extra}.items():
        unit = (metrics.END_TO_END.get(k) or metrics.EXTRA[k])[0]
        print(f"  {k:28s} {v:.6g} {unit}")
    for p in g.problems:
        print(f"  FAILED {p}")

    if a.trace:
        groups = by_group(read_events(os.path.join(work, "events")))
        layer = layers.per_layer(tracer, groups, out)
        shown = layer
        if a.workload == "ingest_churn":
            extra.update(layers.write_path(tracer))
        _write_trace(base, a, tracer, groups, layer, e2e, extra)
    else:
        shown = e2e
        _remember(base, a, e2e)
    declared = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    result = {
        "correct": g.failed == 0,
        "attempted": g.attempted,
        "failed": g.failed,
        "metrics": {k: {"value": float(shown[k]), "unit": declared[k][0]}
                    for k in declared},
    }
    print(json.dumps(result), flush=True)
    return 0


def _remember(base: str, a, e2e: dict) -> None:
    """Keep untraced end-to-end results so a traced run can report the
    tracing overhead against them."""
    d = os.path.join(base, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{a.workload}.json")
    runs = {}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            runs = json.load(f)
    runs[str(a.seed)] = e2e
    with open(path, "w", encoding="utf-8") as f:
        json.dump(runs, f)


def _overhead(base: str, a, e2e: dict) -> dict:
    """Traced minus untraced, as a share of the untraced median over the
    untraced runs kept for this workload."""
    path = os.path.join(base, "results", f"{a.workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        runs = list(json.load(f).values())
    out = {}
    for k, v in e2e.items():
        ref = statistics.median(r[k] for r in runs if k in r)
        out[k] = (v - ref) / ref if ref else 0.0
    out["untraced_runs"] = len(runs)
    return out


def _write_trace(base, a, tracer, groups, layer, e2e, extra) -> None:
    over = _overhead(base, a, e2e)
    for k, v in over.items():
        if k != "untraced_runs":
            print(f"  overhead {k:19s} {100 * v:+.1f}% vs "
                  f"{over['untraced_runs']} untraced runs")
    for k, v in layer.items():
        print(f"  {k:28s} {v:.6g} {metrics.PER_LAYER[k][0]}")
    d = os.path.join(base, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{a.workload}-s{a.seed}.json")
    doc = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "per_layer": layer, "end_to_end_traced": e2e, "extra": extra,
        "tracing_overhead": over,
        "self_time_s": self_times(tracer.spans),
        "groups": {gid: {"jobs": g.jobs, "stages": g.stages, "tasks": g.tasks,
                         "failed_tasks": g.failed_tasks, **g.sums}
                   for gid, g in groups.items()},
        "spans": [[s.name, s.start, s.end, s.parent, s.op_id, s.ok]
                  for s in tracer.spans],
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f)
    print(f"  trace written to {os.path.relpath(path)}")


if __name__ == "__main__":
    sys.exit(main())
