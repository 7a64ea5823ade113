"""Per-superstep figures read from Spark's own status store.

The reader pulls plain dicts out of the driver JVM (``AppStatusStore`` for
stages, the status tracker for job ids, the GC MX beans for collector time);
:func:`step_deltas` turns one step's dicts into the per-step figures and is
pure Python, so it is tested without a session.
"""

from __future__ import annotations

from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class StageRecord:
    stage_id: int
    status: str  # COMPLETE / FAILED / SKIPPED / ACTIVE / PENDING
    num_tasks: int
    failed_tasks: int
    run_ms: int  # summed executor run time of the stage's tasks
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int  # memory + disk bytes spilled
    submit_ms: int | None  # epoch ms; None for never-submitted stages
    complete_ms: int | None


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
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


def step_deltas(stages: list[StageRecord], n_jobs: int, t0_ms: int,
                t1_ms: int, cores: int, gc_ms: int) -> dict[str, float]:
    """Per-step figures from the stages a step launched.

    ``stages`` are the stages first seen during the step (skipped ones
    included — they are dropped here), ``[t0_ms, t1_ms]`` the step's wall
    window, ``gc_ms`` the JVM collector time spent in it."""
    ran = [s for s in stages if s.status != "SKIPPED"]
    wall_ms = max(t1_ms - t0_ms, 1)
    busy = [(s.submit_ms, s.complete_ms if s.complete_ms is not None
             else t1_ms) for s in ran if s.submit_ms is not None]
    return {
        "jobs": float(n_jobs),
        "stages": float(len(ran)),
        "tasks": float(sum(s.num_tasks for s in ran)),
        "failed_tasks": float(sum(s.failed_tasks for s in ran)),
        "shuffle_write_mb": sum(s.shuffle_write_b for s in ran) / MB,
        "shuffle_read_mb": sum(s.shuffle_read_b for s in ran) / MB,
        "spill_mb": sum(s.spill_b for s in ran) / MB,
        "executor_busy_frac": (sum(s.run_ms for s in ran)
                               / (wall_ms * max(cores, 1))),
        "driver_only_s": (wall_ms - covered_ms(busy, t0_ms, t1_ms)) / 1e3,
        "gc_s": gc_ms / 1e3,
    }


def heaviest(stages: list[StageRecord]) -> StageRecord | None:
    """The executed stage with the most task run time (the skew probe)."""
    ran = [s for s in stages if s.status != "SKIPPED" and s.num_tasks > 1]
    return max(ran, key=lambda s: s.run_ms, default=None)


class StatusReader:
    """Reads new jobs/stages since the previous call from a live context."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        self._jvm = sc._jvm
        self._seen_jobs: set[int] = set(self._job_ids())
        self._seen_stages: set[int] = set()
        for j in self._seen_jobs:
            self._seen_stages.update(self._stage_ids(j))

    def _job_ids(self) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(None))

    def _stage_ids(self, job_id: int) -> list[int]:
        info = self._tracker.getJobInfo(job_id)
        return list(info.stageIds) if info is not None else []

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def gc_ms(self) -> int:
        beans = (self._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(max(int(b.getCollectionTime()), 0) for b in beans)

    def _stage(self, sid: int) -> StageRecord | None:
        try:
            s = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — evicted or unknown stage
            return None

        def opt_ms(o):
            return int(o.get().getTime()) if o.isDefined() else None

        return StageRecord(
            stage_id=sid, status=str(s.status().toString()),
            num_tasks=int(s.numTasks()),
            failed_tasks=int(s.numFailedTasks()),
            run_ms=int(s.executorRunTime()),
            shuffle_write_b=int(s.shuffleWriteBytes()),
            shuffle_read_b=int(s.shuffleReadBytes()),
            spill_b=int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            submit_ms=opt_ms(s.submissionTime()),
            complete_ms=opt_ms(s.completionTime()))

    def new_since_last(self) -> tuple[int, list[StageRecord]]:
        """(#new jobs, records of the stages they created)."""
        jobs = [j for j in self._job_ids() if j not in self._seen_jobs]
        self._seen_jobs.update(jobs)
        sids: set[int] = set()
        for j in jobs:
            sids.update(self._stage_ids(j))
        sids -= self._seen_stages
        self._seen_stages.update(sids)
        recs = [self._stage(s) for s in sorted(sids)]
        return len(jobs), [r for r in recs if r is not None]

    def skew(self, stage: StageRecord) -> float | None:
        """max / median task run time of one stage."""
        arr = self._sc._gateway.new_array(self._jvm.double, 2)
        arr[0], arr[1] = 0.5, 1.0
        try:
            attempt = int(self._store.lastStageAttempt(
                stage.stage_id).attemptId())
            opt = self._store.taskSummary(stage.stage_id, attempt, arr)
        except Exception:  # noqa: BLE001 — evicted stage
            return None
        if not opt.isDefined():
            return None
        rt = opt.get().executorRunTime()
        p50, mx = float(rt.apply(0)), float(rt.apply(1))
        return mx / p50 if p50 > 0 else None
