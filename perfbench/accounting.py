"""Per-layer accounting: the benchmark's own calculations and the reader
that pulls job and stage records out of Spark's status store.

The pure functions (``percentile``, ``covered_s``, ``busy_ratio``,
``reduce_stages``) take plain Python values so they are testable without a
JVM; ``StatusReader`` is the only part that talks to Spark.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

_MB = 1024 * 1024

#: status-store stage fields summed per op phase, by their StageData getter
STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "outputBytes",
)


def percentile(values: Sequence[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile of ``values`` and the sample count.

    Nearest rank returns an observed value (no interpolation), so p50 of
    an even-sized sample is its lower middle value."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return ordered[rank - 1], len(ordered)


def covered_s(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.

    Jobs of one phase can overlap (a broadcast job runs while its parent
    waits); the union counts the overlap once, so ``(hi - lo) -
    covered_s(...)`` is the phase's wall time with no job running: driver
    work such as analysis, optimization and planning."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def busy_ratio(task_s: float, wall_s: float, cpus: int) -> float:
    """Task time over the core-seconds the phase had: 1.0 means every core
    ran a task for the whole phase."""
    if wall_s <= 0 or cpus <= 0:
        return 0.0
    return task_s / (wall_s * cpus)


def reduce_stages(stages: Iterable[dict]) -> dict:
    """Sum stage records (``STAGE_FIELDS`` keys, times in ms, sizes in
    bytes) into one phase summary in seconds and MB. A stage id seen more
    than once (several attempts, or a stage shared by two jobs) counts
    once, with its last record."""
    by_id: dict[int, dict] = {}
    for st in stages:
        by_id[st["stageId"]] = st
    tot = {f: sum(st.get(f, 0) for st in by_id.values()) for f in STAGE_FIELDS}
    return {
        "stages": len(by_id),
        "tasks": tot["numTasks"],
        "task_s": tot["executorRunTime"] / 1000,
        "gc_s": tot["jvmGcTime"] / 1000,
        "shuffle_write_mb": tot["shuffleWriteBytes"] / _MB,
        "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / _MB,
        "input_mb": tot["inputBytes"] / _MB,
        "output_mb": tot["outputBytes"] / _MB,
    }


class StatusReader:
    """Reads finished jobs of one job group from Spark's status store.

    The store is fed asynchronously by the listener bus, so every read
    first waits for the bus to drain; that wait is part of the tracing
    overhead the traced run reports."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def group(self, group_id: str) -> list[dict]:
        """Jobs of ``group_id``: wall interval (epoch s) and the records of
        the stages that ran (skipped stages, whose shuffle output was
        reused, are left out)."""
        self._bus.waitUntilEmpty()
        jobs = []
        for job_id in sorted(self._sc.statusTracker().getJobIdsForGroup(group_id)):
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            seq = job.stageIds()
            stages = (self._stage(seq.apply(i)) for i in range(seq.size()))
            jobs.append(
                {
                    "job_id": job_id,
                    "start": sub.get().getTime() / 1000,
                    "end": done.get().getTime() / 1000,
                    "stages": [s for s in stages if s is not None],
                }
            )
        return jobs

    def _stage(self, stage_id: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # no attempt recorded: the stage never ran
            return None
        if str(st.status()) == "SKIPPED":
            return None
        rec = {"stageId": stage_id}
        for f in STAGE_FIELDS:
            rec[f] = int(getattr(st, f)())
        return rec
