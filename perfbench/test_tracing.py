"""Tests for the traced run's arithmetic and event-log parser.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import random

import pytest

from perfbench.tracing import node_total, parse_event_log, self_times

LAYERS = ["scan", "extract", "bbox", "pip", "knn", "full"]


def test_self_times_of_monotone_prefixes_are_differences():
    prefixes = list(zip(LAYERS, [0.5, 1.5, 1.75, 4.0, 7.0, 7.5]))
    selfs = self_times(prefixes)
    assert selfs == pytest.approx({"scan": 0.5, "extract": 1.0, "bbox": 0.25,
                                   "pip": 2.25, "knn": 3.0, "full": 0.5})


@pytest.mark.parametrize("seed", range(20))
def test_self_times_nonnegative_and_reconcile(seed):
    rng = random.Random(seed)
    prefixes = [(name, rng.uniform(0.0, 10.0)) for name in LAYERS]
    selfs = self_times(prefixes)
    assert list(selfs) == LAYERS
    assert all(v >= 0.0 for v in selfs.values())
    # the layer sum reconciles with the full (monotone) prefix
    assert sum(selfs.values()) == pytest.approx(max(t for _, t in prefixes))


def _events():
    plan = {"nodeName": "WriteFiles", "metrics": [], "children": [
        {"nodeName": "MapInPandas", "children": [], "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 10,
             "metricType": "size"}]}]}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
            "Task Metrics": {"Executor Run Time": 1500,
                             "Executor CPU Time": 1_000_000_000,
                             "JVM GC Time": 20, "Memory Bytes Spilled": 5,
                             "Disk Bytes Spilled": 7,
                             "Shuffle Write Metrics": {
                                 "Shuffle Bytes Written": 100}},
            "Task Info": {"Accumulables": [{"ID": 10, "Update": "400"},
                                           {"ID": 99, "Update": 1}]}}
    return [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.job.description": "prefix:full"}},
        task, task,
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [4],
         "Properties": {}},
        {**task, "Stage ID": 4},
    ]


def test_parse_event_log_sums_per_label(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in _events()))
    log = parse_event_log(path)
    full = log["prefix:full"]
    assert (full["jobs"], full["stages"], full["tasks"]) == (1, 1, 2)
    assert full["run_s"] == pytest.approx(3.0)
    assert full["cpu_s"] == pytest.approx(2.0)
    assert full["gc_s"] == pytest.approx(0.04)
    assert full["shuffle_write_bytes"] == 200
    assert full["spill_bytes"] == 24
    assert node_total(full, "MapInPandas",
                      "data sent to Python workers") == 800
    # unlabelled jobs are kept apart; unknown accumulators are ignored
    assert log["unlabelled"]["tasks"] == 1
    assert node_total(log["unlabelled"], "MapInPandas",
                      "data sent to Python workers") == 400
