"""Metric names, units, what feeds what, and the predictions the
benchmark was built to check. ``BENCHMARK.json`` declares the same
names; ``tests/test_names.py`` keeps the two in step.

Every workload reports every declared metric. Metrics of a layer that a
workload does not exercise read 0 there (merges, tombstones), and are
counts, never times. Quantities that exist on one workload only are
written to the trace and printed, but not declared (see ``EXTRA``).
"""

from __future__ import annotations

# name -> (unit, better); printed by every run with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "qps": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "refresh_s": ("s", "lower"),
    "index_bytes_per_text_byte": ("ratio", "lower"),
}

# name -> (unit, better); printed by every run with --trace 1.
# peak_rss_mb and build_docs_per_s are end-to-end by nature, but they
# repeat too loosely between runs to gate on (NOTES.md), so they are
# reported here
PER_LAYER = {
    "peak_rss_mb": ("MB", "lower"),
    "build_docs_per_s": ("1/s", "higher"),
    "query.parse_s": ("s", "lower"),
    "search.plan_s": ("s", "lower"),
    "search.plan_jobs": ("count", "lower"),
    "catalyst.s": ("s", "lower"),
    "search.exec_s": ("s", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "scan.input_bytes": ("B", "lower"),
    "scan.records": ("count", "lower"),
    "scan.time_s": ("s", "lower"),
    "python.run_s": ("s", "lower"),
    "python.init_s": ("s", "lower"),
    "python.bytes_in": ("B", "lower"),
    "python.bytes_out": ("B", "lower"),
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "executor.deser_s": ("s", "lower"),
    "executor.gc_s": ("s", "lower"),
    "shuffle.write_bytes": ("B", "lower"),
    "shuffle.read_bytes": ("B", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "build.s": ("s", "lower"),
    "build.jobs": ("count", "lower"),
    "build.python_run_s": ("s", "lower"),
    "build.shuffle_bytes": ("B", "lower"),
    "build.output_bytes": ("B", "lower"),
    "search.init_s": ("s", "lower"),
    "search.warmup_s": ("s", "lower"),
    "search.tombstones": ("count", "lower"),
    "merge.merges": ("count", "lower"),
    "merge.bytes_rewritten": ("B", "lower"),
    "storage.index_bytes": ("B", "lower"),
    "storage.files": ("count", "lower"),
    "storage.segments": ("count", "lower"),
}

# measured and printed (and written to the trace), not declared: each
# exists on one workload only, or is a derived rate of attempted/failed
EXTRA = {
    "error_rate": ("ratio", "lower"),
    "latency_p90_s": ("s", "lower"),      # only with >= 100 samples
    "add_docs_per_s": ("1/s", "higher"),  # ingest_churn
    "merge_s": ("s", "lower"),            # ingest_churn
    "build.add_s": ("s", "lower"),        # ingest_churn
    "merge.delete_s": ("s", "lower"),     # ingest_churn
}

# end-to-end metric -> the layer metrics that should move it
FEEDS = {
    "setup_s": ["build.s", "search.init_s", "search.warmup_s"],
    "qps": ["search.plan_s", "search.plan_jobs", "catalyst.s", "search.exec_s",
            "spark.jobs_per_op", "spark.driver_gap_s", "scan.input_bytes",
            "scan.time_s", "python.run_s", "python.bytes_in",
            "python.bytes_out"],
    "latency_p50_s": ["query.parse_s", "search.plan_s", "search.plan_jobs",
                      "catalyst.s", "spark.jobs_per_op", "spark.stages_per_op",
                      "spark.tasks_per_op", "spark.driver_gap_s",
                      "python.init_s"],
    "build_docs_per_s": ["build.s", "build.jobs", "build.python_run_s",
                         "build.shuffle_bytes", "build.output_bytes"],
    "refresh_s": ["search.init_s", "search.warmup_s", "search.tombstones"],
    "index_bytes_per_text_byte": ["storage.index_bytes", "storage.files",
                                  "storage.segments", "scan.input_bytes"],
    "peak_rss_mb": ["search.tombstones", "search.warmup_s"],
    "add_docs_per_s": ["build.add_s"],
    "merge_s": ["merge.delete_s", "merge.merges", "merge.bytes_rewritten"],
}

# ROADMAP direction -> what it should move and where, and what it must not
PREDICTIONS = {
    "direction 2 (Parquet-native postings on mapInArrow)": {
        "moves": {"batch_heavy": ["python.run_s", "python.bytes_in", "qps"],
                  "ingest_churn": ["build_docs_per_s"]},
        "unchanged": {"search_fresh": ["latency_p50_s", "qps"]},
    },
    "direction 3 (one scoring route, seg-partitioned tombstones)": {
        "moves": {"ingest_churn": ["refresh_s", "peak_rss_mb"]},
        "unchanged": {"search_fresh": ["refresh_s", "peak_rss_mb"],
                      "batch_heavy": ["refresh_s", "peak_rss_mb"]},
    },
    "direction 5 (one Spark job per query)": {
        "moves": {"search_fresh": ["search.plan_jobs", "spark.jobs_per_op",
                                   "latency_p50_s"],
                  "ingest_churn": ["search.plan_jobs", "spark.jobs_per_op",
                                   "latency_p50_s"]},
        "unchanged": {"batch_heavy": ["search.plan_jobs", "spark.jobs_per_op",
                                      "qps"]},
    },
}
