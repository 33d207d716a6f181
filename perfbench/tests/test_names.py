"""Metric names are valid and BENCHMARK.json declares what run.py prints."""

import json
import os
import re

from perfbench import metrics, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_metric_names_and_units_valid():
    table = {**metrics.END_TO_END, **metrics.PER_LAYER, **metrics.EXTRA}
    assert len(table) == (len(metrics.END_TO_END) + len(metrics.PER_LAYER)
                          + len(metrics.EXTRA))
    for name, (unit, better) in table.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), unit
        assert better in ("lower", "higher")


def test_benchmark_json_matches_declared_metrics():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [m["name"] for m in b["end_to_end"]] == list(metrics.END_TO_END)
    assert [m["name"] for m in b["per_layer"]] == list(metrics.PER_LAYER)
    for m in b["end_to_end"]:
        assert (m["unit"], m["better"]) == metrics.END_TO_END[m["name"]]
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert (m["unit"], m["better"]) == metrics.PER_LAYER[m["name"]]
    for w in b["workloads"]:
        assert w["name"] in workloads.WORKLOADS and w["why"]


def test_feeds_and_predictions_name_known_metrics():
    known = {**metrics.END_TO_END, **metrics.PER_LAYER, **metrics.EXTRA}
    for e2e, layers in metrics.FEEDS.items():
        assert e2e in known and all(m in known for m in layers)
    for pred in metrics.PREDICTIONS.values():
        for part in pred.values():
            for w, names in part.items():
                assert w in workloads.WORKLOADS
                assert all(m in known for m in names)
