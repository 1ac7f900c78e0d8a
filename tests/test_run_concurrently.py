"""The contract of `execution.run_concurrently`, the package's one way to
overlap Spark jobs: results in thunk order; every thunk's jobs carry the
caller's job group and description (nested calls too), and nothing of a
finished call leaks into a later one; every thunk runs to completion
before a failure propagates; the lowest-index failure is raised with its
siblings' recorded as notes. Jobs are tiny ``spark.range`` counts."""

from __future__ import annotations

import threading
import time

import pytest

from ai_powered_data_pipeline_assistant_spark.execution import run_concurrently

GROUP = "run-concurrently-test"


@pytest.fixture()
def sc(spark):
    sc = spark.sparkContext
    yield sc
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobDescription(None)


def _jobs(sc, group):
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _probe(spark):
    """Fire one job; report what the thread's jobs are attributed to."""

    def run():
        spark.range(8).count()
        return spark.sparkContext.getLocalProperty("spark.job.description")

    return run


def test_results_come_back_in_thunk_order(spark, sc):
    def after(delay, value):
        def run():
            time.sleep(delay)
            spark.range(4).count()
            return value

        return run

    # the first thunk finishes last
    assert run_concurrently(after(0.4, "a"), after(0.2, "b"), after(0, "c")) == [
        "a", "b", "c"
    ]
    assert run_concurrently() == []
    assert run_concurrently(lambda: 7) == [7]


def test_thunks_carry_callers_group_and_description_through_nesting(spark, sc):
    probe = _probe(spark)
    sc.setJobGroup(GROUP, "overlap probe")
    in_group, no_group = _jobs(sc, GROUP), _jobs(sc, None)
    got = run_concurrently(probe, lambda: run_concurrently(probe, probe))
    assert got == ["overlap probe", ["overlap probe", "overlap probe"]]
    # three thunks, each at least one job, all in the caller's group
    assert len(_jobs(sc, GROUP) - in_group) >= 3
    assert _jobs(sc, None) - no_group == set()


def test_cleared_group_does_not_leak_into_a_later_call(spark, sc):
    probe = _probe(spark)
    sc.setJobGroup(GROUP, "overlap probe")
    run_concurrently(probe, probe)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobDescription(None)
    in_group, no_group = _jobs(sc, GROUP), _jobs(sc, None)
    assert run_concurrently(probe, probe, probe) == [None, None, None]
    assert _jobs(sc, GROUP) == in_group
    assert len(_jobs(sc, None) - no_group) >= 3


def test_every_thunk_completes_before_the_error_propagates(spark, sc):
    finished = threading.Event()

    def fail():
        raise ValueError("first")

    def slow():
        time.sleep(0.5)
        spark.range(4).count()
        finished.set()

    with pytest.raises(ValueError, match="first"):
        run_concurrently(fail, slow)
    assert finished.is_set()


def test_lowest_index_error_raised_with_siblings_as_notes(spark, sc):
    def fail_late():
        time.sleep(0.3)
        raise ValueError("thunk 0")

    def fail_now():
        raise KeyError("thunk 2")

    with pytest.raises(ValueError, match="thunk 0") as info:
        run_concurrently(fail_late, lambda: spark.range(4).count(), fail_now)
    assert info.value.__notes__ == [
        "sibling thunk #2 also failed: KeyError('thunk 2')"
    ]
