"""tools/profile_log.py over the perfbench event-log fixture (no Spark
needed): jobs are attributed to the entry named in their description,
and a job without one counts nowhere."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
FIXTURE = REPO / "perfbench" / "fixtures" / "eventlog.jsonl"


def _profile_log():
    spec = importlib.util.spec_from_file_location(
        "profile_log", REPO / "tools" / "profile_log.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_report_attributes_jobs_stages_tasks_per_entry():
    report = _profile_log().profile(str(FIXTURE))
    # the third job has no description and is dropped
    assert list(report) == ["a", "b"]
    a, b = report["a"], report["b"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 1)
    assert a["samples"] == b["samples"] == 1
    assert a["executor_run_s"] == pytest.approx(0.6)
    assert a["executor_cpu_s"] == pytest.approx(0.5)
    assert a["shuffle_mb"] == pytest.approx(3.5)   # written 2 MB + read 1.5 MB
    assert a["spill_mb"] == pytest.approx(0.25)
    assert (a["python_rows"], b["python_rows"]) == (0, 40)


def test_entry_is_the_text_after_the_last_colon():
    entry_of = _profile_log().entry_of

    def job(props):
        return {"Properties": props}

    assert entry_of(job({"spark.job.description": "bench: page_components"})) == (
        "page_components",
    )
    assert entry_of(job({"spark.job.description": "perfbench:pass:tpch_q5"})) == ("tpch_q5",)
    assert entry_of(job({"spark.app.id": "local-1"})) == ()
    assert entry_of({}) == ()
