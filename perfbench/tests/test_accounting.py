"""Tests of the benchmark's own calculations (no JVM needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from accounting import busy_ratio, covered_s, percentile, reduce_stages  # noqa: E402


def test_percentile_nearest_rank_with_sample_count():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == (3.0, 5)
    assert percentile(values, 90) == (5.0, 5)
    assert percentile(values, 100) == (5.0, 5)
    # an even sample: p50 is the lower middle value, never an average
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == (2.0, 4)
    # p90 of 20 values is the 18th smallest
    assert percentile([float(i) for i in range(1, 21)], 90) == (18.0, 20)
    assert percentile([7.0], 90) == (7.0, 1)


def test_percentile_rejects_empty_sample_and_bad_rank():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_covered_counts_overlapping_jobs_once():
    # two overlapping jobs [1, 4] and [3, 6], a nested one, and a disjoint one
    jobs = [(1.0, 4.0), (3.0, 6.0), (2.0, 2.5), (8.0, 9.0)]
    assert covered_s(jobs, 0.0, 10.0) == pytest.approx(6.0)
    # the phase's driver time is what no job covers
    assert 10.0 - covered_s(jobs, 0.0, 10.0) == pytest.approx(4.0)


def test_covered_clips_to_the_phase():
    jobs = [(-1.0, 2.0), (4.0, 12.0)]
    assert covered_s(jobs, 0.0, 10.0) == pytest.approx(8.0)
    assert covered_s([(11.0, 12.0)], 0.0, 10.0) == 0.0
    assert covered_s([], 0.0, 10.0) == 0.0
    # touching intervals merge without double counting
    assert covered_s([(0.0, 1.0), (1.0, 2.0)], 0.0, 2.0) == pytest.approx(2.0)


def test_busy_ratio():
    # 6 task-seconds in a 2 s phase on 4 cores: 75% of the core-seconds
    assert busy_ratio(6.0, 2.0, 4) == pytest.approx(0.75)
    assert busy_ratio(1.0, 0.0, 4) == 0.0
    assert busy_ratio(1.0, 1.0, 0) == 0.0


def test_reduce_stages_sums_and_dedupes_stage_ids():
    stages = [
        {
            "stageId": 1,
            "numTasks": 4,
            "executorRunTime": 1500,
            "jvmGcTime": 100,
            "shuffleWriteBytes": 2 * 1024 * 1024,
            "memoryBytesSpilled": 1024 * 1024,
            "diskBytesSpilled": 0,
            "inputBytes": 8 * 1024 * 1024,
            "outputBytes": 0,
        },
        {
            "stageId": 2,
            "numTasks": 2,
            "executorRunTime": 500,
            "jvmGcTime": 0,
            "shuffleWriteBytes": 0,
            "memoryBytesSpilled": 0,
            "diskBytesSpilled": 1024 * 1024,
            "inputBytes": 0,
            "outputBytes": 3 * 1024 * 1024,
        },
        # a retried attempt of stage 2: its last record replaces the first
        {
            "stageId": 2,
            "numTasks": 2,
            "executorRunTime": 700,
            "jvmGcTime": 50,
            "shuffleWriteBytes": 0,
            "memoryBytesSpilled": 0,
            "diskBytesSpilled": 1024 * 1024,
            "inputBytes": 0,
            "outputBytes": 3 * 1024 * 1024,
        },
    ]
    out = reduce_stages(stages)
    assert out == {
        "stages": 2,
        "tasks": 6,
        "task_s": pytest.approx(2.2),
        "gc_s": pytest.approx(0.15),
        "shuffle_write_mb": pytest.approx(2.0),
        "spill_mb": pytest.approx(2.0),
        "input_mb": pytest.approx(8.0),
        "output_mb": pytest.approx(3.0),
    }
    assert reduce_stages([])["stages"] == 0
