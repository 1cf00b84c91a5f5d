"""Tests of the benchmark's event-log and progress parsers on tiny fixtures.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pytest  # noqa: E402

import measure  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _labels_by_description(job):
    desc = (job.get("Properties") or {}).get("spark.job.description") or ""
    return (desc,) if desc else ()


def test_event_log_totals_attribute_jobs_stages_and_tasks():
    events = measure.read_event_log(os.path.join(FIXTURES, "eventlog.jsonl"))
    totals = measure.event_log_totals(events, _labels_by_description)
    a, b = totals["perfbench:pass:a"], totals["perfbench:pass:b"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 1)
    # the unlabelled job counts under no label
    assert set(totals) == {"perfbench:pass:a", "perfbench:pass:b"}
    assert a["executor_run_s"] == pytest.approx(0.6)          # 100 + 200 + 300 ms
    assert a["executor_cpu_s"] == pytest.approx(0.5)          # 5e8 ns
    assert a["gc_s"] == pytest.approx(0.01)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["shuffle_read_mb"] == pytest.approx(1.5)         # remote 1 MB + local 0.5 MB
    assert a["spill_mb"] == pytest.approx(0.25)
    # only the output rows of the Python node, not of the Range below it
    assert b["python_rows"] == pytest.approx(40)
    assert b["python_mb"] == pytest.approx(3.0)               # sent 2 MB + returned 1 MB
    assert "python_rows" not in a


def test_a_job_counts_under_each_of_its_labels():
    events = measure.read_event_log(os.path.join(FIXTURES, "eventlog.jsonl"))
    totals = measure.event_log_totals(
        events, lambda job: ("timed", *_labels_by_description(job))
    )
    assert (totals["timed"]["jobs"], totals["timed"]["tasks"]) == (3, 5)
    assert totals["perfbench:pass:a"]["tasks"] == 3


def test_stage_retries_count_once_per_attempt():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.job.description": "x"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 1}},
    ]
    assert measure.event_log_totals(events, _labels_by_description)["x"]["stages"] == 2


def test_progress_totals_sum_phases_and_keep_last_state():
    with open(os.path.join(FIXTURES, "progress.json")) as f:
        progress = json.load(f)
    t = measure.progress_totals(progress)
    assert t["batches"] == pytest.approx(2)                   # the no-data report is skipped
    assert t["add_batch_s"] == pytest.approx(1.5)
    assert t["planning_s"] == pytest.approx(0.25)
    assert t["latest_offset_s"] == pytest.approx(0.125)
    assert t["commit_s"] == pytest.approx(0.5)                # walCommit + commitOffsets
    assert t["state_rows_updated"] == pytest.approx(1500)
    assert t["state_commit_s"] == pytest.approx(0.075)
    assert t["state_rows_total"] == pytest.approx(1800)       # from the last batch only
    assert t["state_memory_mb"] == pytest.approx(2.0)


def test_progress_epoch_reads_trigger_timestamp():
    assert measure.progress_epoch({"timestamp": "1970-01-01T00:00:10.500Z"}) == 10.5
    assert measure.progress_epoch({}) == 0.0


def test_spans_accumulate_under_every_name():
    spans = measure.Spans()
    with spans.span("queries.exec_s", "queries.build_s"):
        pass
    first = spans.total["queries.exec_s"]
    with spans.span("queries.exec_s"):
        pass
    assert spans.total["queries.build_s"] == first
    assert spans.total["queries.exec_s"] >= first


def test_process_tree_sees_this_process():
    with measure.ProcessTree(interval_s=0.05) as tree:
        m0 = tree.mark()
        sum(i * i for i in range(300_000))
        m1 = tree.mark()
    assert m1["cpu"] >= m0["cpu"]
    assert tree.peak_pss_mb > 0
