"""Per-layer metrics: the benchmark's spans joined to Spark's event log.

Serving operations are the root spans of kind ``query`` (one
``search()`` + ``collect()``) and ``batch`` (one ``search_many()`` +
``collect()``). Driver-side times are medians per operation; Spark
counts ``*_per_op`` are means per operation; work done in executors and
Python workers is summed and divided by the queries served, so it reads
per query on every workload.
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import Group
from perfbench.trace import Tracer, union_length

SERVING = ("query", "batch")

# per-query sums: metric name -> Group.sums key
PER_QUERY = {
    "scan.input_bytes": "input_bytes",
    "scan.records": "input_records",
    "scan.time_s": "scan_time_s",
    "python.run_s": "python_run_s",
    "python.init_s": "python_init_s",
    "python.bytes_in": "python_bytes_in",
    "python.bytes_out": "python_bytes_out",
    "executor.run_s": "executor_run_s",
    "executor.cpu_s": "executor_cpu_s",
    "executor.deser_s": "executor_deser_s",
    "executor.gc_s": "executor_gc_s",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(tracer: Tracer, groups: dict[str, Group], out: dict) -> dict:
    """Every per-layer metric, from the spans, the event-log groups and
    the workload's own measurements ``out``."""
    spans = tracer.spans
    index_of = {id(s): i for i, s in enumerate(spans)}
    ops = [s for s in spans if s.parent is None and s.name in SERVING and s.ok]
    qpo = out.get("queries_per_op", 1)
    n_queries = max(1, len(ops) * qpo)
    empty = Group()

    def child(op, name):
        kids = tracer.children(index_of[id(op)], name)
        return kids[0] if kids else None

    def dur(op, name) -> float:
        c = child(op, name)
        return c.dur if c else 0.0

    plan_jobs, gaps = [], []
    for op in ops:
        g = groups.get(op.op_id, empty)
        plan = child(op, "search.plan")
        # event-log times are whole milliseconds
        plan_jobs.append(sum(1 for t in g.job_starts if plan is not None
                             and plan.start - 1e-3 <= t <= plan.end + 1e-3))
        gaps.append(op.dur - union_length(g.job_intervals, op.start, op.end))

    m = {
        "query.parse_s": _median(dur(op, "query.parse") for op in ops),
        "search.plan_s": _median(dur(op, "search.plan") for op in ops),
        "search.plan_jobs": _mean(plan_jobs),
        "catalyst.s": _median(dur(op, "catalyst") for op in ops),
        "search.exec_s": _median(dur(op, "search.exec") for op in ops),
        "spark.jobs_per_op": _mean(groups.get(op.op_id, empty).jobs for op in ops),
        "spark.stages_per_op": _mean(groups.get(op.op_id, empty).stages
                                     for op in ops),
        "spark.tasks_per_op": _mean(groups.get(op.op_id, empty).tasks
                                    for op in ops),
        "spark.driver_gap_s": _median(gaps),
    }
    for name, key in PER_QUERY.items():
        m[name] = sum(groups.get(op.op_id, empty).sums.get(key, 0.0)
                      for op in ops) / n_queries
    m["spark.failed_tasks"] = sum(g.failed_tasks for g in groups.values())

    builds = [s for s in spans if s.parent is None and s.name == "build"]
    bg = groups.get(builds[0].op_id, empty) if builds else empty
    m.update({
        "peak_rss_mb": out["peak_rss_jvm_mb"] + out["peak_rss_py_mb"],
        "build_docs_per_s": out["build_docs_per_s"],
        "build.s": builds[0].dur if builds else 0.0,
        "build.jobs": bg.jobs,
        "build.python_run_s": bg.sums.get("python_run_s", 0.0),
        "build.shuffle_bytes": bg.sums.get("shuffle_write_bytes", 0.0),
        "build.output_bytes": out["build_output_bytes"],
        "search.init_s": _median(s.dur for s in spans if s.name == "search.init"),
        "search.warmup_s": _median(s.dur for s in spans
                                   if s.name == "search.warmup"),
        "search.tombstones": out["index"]["tombstones"],
        "merge.merges": out.get("merges", 0),
        "merge.bytes_rewritten": out.get("merge_bytes", 0),
        "storage.index_bytes": out["index"]["bytes"],
        "storage.files": out["index"]["files"],
        "storage.segments": out["index"]["segments"],
    })
    return m


def write_path(tracer: Tracer) -> dict:
    """Write-path op times that only ingest_churn has (median per op)."""
    roots = [s for s in tracer.spans if s.parent is None]
    return {
        "build.add_s": _median(s.dur for s in roots if s.name == "add"),
        "merge.delete_s": _median(s.dur for s in roots if s.name == "delete"),
    }
