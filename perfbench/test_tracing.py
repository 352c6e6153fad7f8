"""Tests for the benchmark's own tracing code (no Spark needed).

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import tracing  # noqa: E402

# A trimmed Spark 4 event log: two jobs (one labelled by a commit span,
# one unlabelled), their completed stages with accumulables, and tasks.
EXCERPT = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.job.description": "commit.frontier",
                                         "spark.rdd.scope": "{}"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
     "Stage IDs": [2], "Properties": {"spark.rdd.scope": "{}"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": 1010, "Finish Time": 1110},
     "Task Metrics": {"Executor Run Time": 100}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": 1010, "Finish Time": 1310},
     "Task Metrics": {"Executor Run Time": 300}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Launch Time": 1400, "Finish Time": 1600},
     "Task Metrics": {"Executor Run Time": 200}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Launch Time": 5010, "Finish Time": 5110},
     "Task Metrics": {"Executor Run Time": 100}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Number of Tasks": 2, "Submission Time": 1005, "Completion Time": 1320,
        "Accumulables": [
            {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 400},
            {"ID": 2, "Name": "internal.metrics.jvmGCTime", "Value": 30},
            {"ID": 3, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 1048576},
            {"ID": 4, "Name": "number of output rows", "Value": "12"}]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 1, "Number of Tasks": 1, "Submission Time": 1390, "Completion Time": 1610,
        "Accumulables": [
            {"ID": 5, "Name": "internal.metrics.executorRunTime", "Value": 200},
            {"ID": 6, "Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 524288},
            {"ID": 7, "Name": "internal.metrics.shuffle.read.localBytesRead", "Value": 524288},
            {"ID": 8, "Name": "internal.metrics.diskBytesSpilled", "Value": 2097152}]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 2, "Number of Tasks": 1, "Submission Time": 5005, "Completion Time": 5120,
        "Accumulables": [{"ID": 9, "Name": "internal.metrics.executorRunTime", "Value": 100}]}},
]


def _fold():
    return tracing.fold_event_log(json.dumps(e) + "\n" for e in EXCERPT)


def test_fold_attributes_stages_to_job_descriptions():
    fold = _fold()
    assert fold.desc_of_stage(0) == "commit.frontier"
    assert fold.desc_of_stage(1) == "commit.frontier"
    assert fold.desc_of_stage(2) == ""
    assert fold.stages[0]["run_ms"] == 400
    assert fold.stages[1]["shuffle_read"] == 1048576
    assert fold.stages[1]["spill_disk"] == 2097152


def test_span_stage_metrics():
    sm = tracing.span_stage_metrics(_fold(), "commit.frontier")
    assert sm["task_s"] == 0.6
    assert sm["shuffle_mb"] == 2.0  # 1 MiB written + 1 MiB read
    assert sm["task_skew"] == 1.5  # max 300 / median 200


def test_window_stats_and_labelled_share():
    fold = _fold()
    w = tracing.window_stats(fold, 0, 2000, {"commit.frontier"})
    assert (w["jobs"], w["stages"], w["tasks"]) == (1, 2, 3)
    assert w["labelled_frac"] == 1.0
    w = tracing.window_stats(fold, 0, 6000, {"commit.frontier"})
    assert w["labelled_frac"] == 600 / 700


def test_event_logs_are_deleted_after_the_fold(tmp_path):
    path = tmp_path / "local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in EXCERPT))
    fold = tracing.read_and_delete_event_logs(str(tmp_path))
    assert len(fold.jobs) == 2
    assert not path.exists()


def test_covered_seconds_merges_overlapping_children():
    # two commit threads overlap; a third span is clipped to the parent
    spans = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert tracing.covered_seconds(spans, 0.0, 10.0) == 4.0


def test_per_layer_names_match_benchmark_json():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
