"""The event-log parser on a small recorded log (see fixtures/record_eventlog.py)."""

import os

import pytest

from perfbench.eventlog import GroupStats, Task, parse

LOG = os.path.join(os.path.dirname(__file__), "fixtures", "small_eventlog.json")


@pytest.fixture(scope="module")
def groups():
    return parse(LOG)


def test_jobs_fold_into_their_job_groups(groups):
    assert set(groups) == {"g1", "g2"}
    assert all(g.tasks for g in groups.values())


def test_task_and_driver_side_sql_metrics(groups):
    g1 = groups["g1"]
    # driver-side updates: the broadcast of the 5-row dim
    assert g1.metric("BroadcastExchange", "number of output rows") == 5
    assert g1.metric("BroadcastExchange", "data size") > 0
    # task-side updates: every id crosses into the pandas UDF, odd ids are written
    assert g1.metric("ArrowEvalPython", "number of output rows") == 1000
    assert g1.metric("ArrowEvalPython", "data sent to Python workers") > 0
    assert g1.metric("Execute InsertIntoHadoopFsRelationCommand", "number of output rows") == 500
    assert g1.metric("MapInArrow", "number of output rows") == 0


def test_timings_are_seconds_and_sizes_bytes(groups):
    g1, g2 = groups["g1"], groups["g2"]
    run_s = g1.metric("ArrowEvalPython", "time to run Python workers")
    task_s = sum(t.ms for t in g1.tasks) / 1e3
    assert 0 < run_s < 4 * task_s
    # nsTiming is scaled like timing
    assert 0 < g2.metric("Exchange", "shuffle write time") < 60
    assert g2.metric("Exchange", "shuffle bytes written") > 0


def test_node_stages_locate_the_encode_stage(groups):
    g2 = groups["g2"]
    assert g2.metric("MapInArrow", "number of output rows") == 5
    (stage,) = g2.node_stages["MapInArrow"]
    assert any(t.stage == stage for t in g2.tasks)
    assert g2.task_skew({stage}) >= 1.0


def test_task_skew_uses_the_busiest_stage():
    g = GroupStats(
        tasks=[Task(1, 10, 0, 0), Task(1, 10, 0, 0), Task(1, 40, 0, 0),
               Task(2, 5, 0, 0), Task(2, 5, 0, 0)]
    )
    assert g.task_skew() == 4.0
    assert g.task_skew({2}) == 1.0
    assert g.task_skew({3}) == 0.0
