"""overlap(): driver-side concurrency helper."""

from __future__ import annotations

import threading
import time
import uuid

import pytest

from data_integration_and_harmonization_spark.functions.concurrency import overlap


def test_overlap_returns_results_in_argument_order(spark):
    def slow():
        time.sleep(0.2)
        return "slow"

    assert overlap(slow, lambda: "fast", lambda: spark.range(5).count()) == [
        "slow",
        "fast",
        5,
    ]


def test_overlap_finishes_siblings_before_raising(spark):
    finished = threading.Event()

    def boom():
        raise ValueError("first")

    def sibling():
        time.sleep(0.3)
        finished.set()
        return 1

    def later_failure():
        time.sleep(0.1)
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        overlap(boom, sibling, later_failure)
    assert finished.is_set()


def test_overlap_threads_inherit_job_group(spark):
    sc = spark.sparkContext
    gid = f"overlap-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "overlap job group")
    try:
        overlap(lambda: spark.range(10).count(), lambda: spark.range(20).count())
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) >= 2
