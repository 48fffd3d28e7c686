"""The event-log fold against a small captured log.

    python3 -m pytest perfbench/unittests -q

``data/eventlog_small.jsonl`` comes from make_eventlog_fixture.py: job
group ``q1|build`` holds an eager count (jobs 0-1), ``q1|exec`` a
``mapInPandas`` over 100 rows plus an aggregation (jobs 2-3), ``q2|exec``
a 10-row parquet write (job 4), and jobs 5-6 ran with no group inside
the time window in ``data/window.json``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

DATA = Path(__file__).resolve().parent / "data"
sys.path.insert(0, str(DATA.parent.parent))

from eventlog import FIELDS, Phase, by_phase, read_jobs  # noqa: E402


@pytest.fixture(scope="module")
def jobs():
    with open(DATA / "eventlog_small.jsonl") as fh:
        return read_jobs(fh)


@pytest.fixture(scope="module")
def window():
    return json.loads((DATA / "window.json").read_text())


def test_every_job_is_read_with_its_group(jobs):
    assert [j.job_id for j in jobs] == list(range(7))
    assert [j.group for j in jobs] == ["q1|build"] * 2 + ["q1|exec"] * 2 + ["q2|exec"] + [None] * 2
    assert all(set(j.m) == set(FIELDS) for j in jobs)


def test_build_and_exec_split_by_job_group(jobs):
    # phase intervals that hold none of the jobs: only the group decides
    phases = [Phase(k, 0, 1) for k in ("q1|build", "q1|exec", "q2|exec")]
    got = by_phase(jobs, phases)
    assert got["q1|build"]["jobs"] == 2 and got["q1|build"]["stages"] == 2
    assert got["q1|exec"]["jobs"] == 2 and got["q1|exec"]["stages"] == 2
    assert got["q2|exec"]["jobs"] == 1
    # the eager count's shuffle is written and read inside the build
    assert got["q1|build"]["shuffle_write_mb"] == pytest.approx(got["q1|build"]["shuffle_read_mb"])
    assert got["q1|build"]["shuffle_write_mb"] > 0
    # the 10 written rows belong to q2's exec and to nothing else
    assert got["q2|exec"]["output_records"] == 10
    assert got["q1|build"]["output_records"] == got["q1|exec"]["output_records"] == 0
    assert sum(v["tasks"] for v in got.values()) == sum(j.m["tasks"] for j in jobs[:5])


def test_python_node_metrics_land_in_exec(jobs):
    got = by_phase(jobs, [Phase("q1|build", 0, 1), Phase("q1|exec", 0, 1)])
    assert got["q1|exec"]["py_rows_received"] == 100
    assert got["q1|exec"]["py_sent_mb"] > 0 and got["q1|exec"]["py_received_mb"] > 0
    assert got["q1|exec"]["py_run_s"] > 0
    assert got["q1|build"]["py_rows_received"] == 0


def test_ungrouped_jobs_go_to_the_phase_that_holds_them(jobs, window):
    phases = [Phase("q1|exec", 0, 1), Phase("q3|build", window["start_ms"], window["end_ms"])]
    got = by_phase(jobs, phases)
    assert got["q3|build"]["jobs"] == 2
    assert got["q1|exec"]["jobs"] == 2  # q1|build and q2|exec are not phases: dropped


def test_task_times_are_seconds(jobs):
    for j in jobs:
        assert 0 < j.m["task_cpu_s"] <= j.m["task_run_s"] + 1.0
        assert j.m["task_failures"] == 0
