"""The event-log parser on a small recorded log.

The log under ``data/`` was recorded from two job groups on local[2]:
``g_udf`` (a pandas UDF then a global sum: stages 0 and 2) and
``g_shuffle`` (a grouped count: stages 3 and 5), trimmed to the fields
the parser reads, plus one hand-written job with no group.
"""

import os

import pytest

from eventlog import event_files, group_stats

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def groups():
    return group_stats(DATA)


def test_finds_the_rolling_event_files():
    files = event_files(DATA)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]


def test_python_worker_metrics_sum_per_group(groups):
    g = groups["g_udf"]
    assert (g.jobs, g.tasks) == (2, 3)
    assert g.py_sent_bytes == 8416
    assert g.py_returned_bytes == 8288
    assert g.py_run_ms == 4949
    assert g.shuffle_write_bytes == 118
    assert g.shuffle_read_bytes == 118


def test_shuffle_group_has_no_python_time(groups):
    g = groups["g_shuffle"]
    assert (g.jobs, g.tasks) == (2, 3)
    assert g.shuffle_write_bytes == 354
    assert (g.py_sent_bytes, g.py_run_ms) == (0, 0)
    assert g.task_ms == 239 + 239 + 61


def test_task_skew_reads_the_dominant_stage(groups):
    # stage 0 holds most of g_udf's task time: tasks of 3184 and 3158 ms
    assert groups["g_udf"].task_skew() == pytest.approx(3184 / 3171)


def test_ungrouped_jobs_and_spill(groups):
    g = groups[""]
    assert (g.jobs, g.tasks) == (1, 2)
    assert g.disk_spill_bytes == 2048
    assert g.memory_spill_bytes == 4096
    assert g.task_ms == 100 + 400
