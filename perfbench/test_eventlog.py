"""Checks the event-log parser against a small committed Spark 4.1 log.

The log holds two job groups: ``iter0`` (a SQL aggregate: two jobs, one
shuffle map stage of 3 tasks, one skipped stage and one result stage of 1
task) and ``iter1`` (one RDD collect stage of 2 tasks). Run with
``python3 -m pytest perfbench``.
"""

import os

import pytest

from eventlog import _union_s, group_metrics, parse

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return parse(LOG)


def test_groups_jobs_and_skipped_stages(groups):
    assert sorted(groups) == ["iter0", "iter1"]
    assert groups["iter0"]["jobs"] == 2
    # stage 1 was skipped (its shuffle output was reused): no tasks, not counted
    assert sorted(groups["iter0"]["stages"]) == [0, 2]
    assert sorted(groups["iter1"]["stages"]) == [3]


def test_iter0_rollup(groups):
    m = group_metrics(groups["iter0"], wall_s=1.0, cores=2)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 4
    assert m["spark.task_run_s"] == pytest.approx((219 + 225 + 20 + 62) / 1e3)
    # busiest stage is stage 0: max 225 over median 219
    assert m["spark.task_skew"] == pytest.approx(225 / 219)
    # the shuffle written by stage 0 is exactly what stage 2 reads back
    assert m["spark.shuffle_write_bytes"] == 177
    assert m["spark.shuffle_read_bytes"] == 177
    assert m["spark.result_bytes"] == 8727 + 3938
    assert m["spark.gc_s"] == pytest.approx(0.022)
    assert m["spark.busy_frac"] == pytest.approx(0.526 / 2.0)
    # stages ran 564 ms and 117 ms, disjoint
    assert m["spark.driver_gap_s"] == pytest.approx(1.0 - 0.681)


def test_iter1_rollup(groups):
    m = group_metrics(groups["iter1"], wall_s=2.0, cores=2)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 1, 2)
    assert m["spark.task_run_s"] == pytest.approx(2.87)
    assert m["spark.shuffle_write_bytes"] == m["spark.shuffle_read_bytes"] == 0
    assert m["spark.driver_gap_s"] == pytest.approx(2.0 - 1.512)


def test_scheduler_delay_is_unaccounted_task_time(groups):
    # per task: (finish - launch) - run - deserialize - result serialization
    m = group_metrics(groups["iter1"], wall_s=2.0, cores=2)
    assert m["spark.sched_delay_s"] == pytest.approx(0.010)


def test_union_merges_overlaps():
    assert _union_s([(0, 1000), (500, 1500), (2000, 2500)]) == pytest.approx(2.0)
    assert _union_s([]) == 0.0
