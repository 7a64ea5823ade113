import pytest

from perfbench.sparkstats import (MB, StageRecord, covered_ms, heaviest,
                                  step_deltas)


def _stage(sid, status="COMPLETE", tasks=4, run=0, sw=0, sr=0, spill=0,
           submit=None, complete=None, failed=0):
    return StageRecord(sid, status, tasks, failed, run, sw, sr, spill,
                       submit, complete)


def test_covered_ms_merges_and_clips():
    assert covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert covered_ms([(-5, 5), (95, 120)], 0, 100) == 10
    assert covered_ms([(200, 300)], 0, 100) == 0
    assert covered_ms([], 0, 100) == 0


def test_step_deltas_counts_only_executed_stages():
    stages = [
        _stage(1, tasks=8, run=4000, sw=2 * MB, sr=MB, submit=1000,
               complete=3000),
        _stage(2, tasks=4, run=2000, sr=2 * MB, spill=MB, submit=4000,
               complete=5000, failed=1),
        _stage(3, status="SKIPPED", tasks=8, run=99_999, sw=99 * MB),
    ]
    d = step_deltas(stages, n_jobs=2, t0_ms=0, t1_ms=10_000, cores=4,
                    gc_ms=250)
    assert d["jobs"] == 2 and d["stages"] == 2 and d["tasks"] == 12
    assert d["failed_tasks"] == 1
    assert d["shuffle_write_mb"] == pytest.approx(2.0)
    assert d["shuffle_read_mb"] == pytest.approx(3.0)
    assert d["spill_mb"] == pytest.approx(1.0)
    # 6 s of task time over 10 s x 4 cores
    assert d["executor_busy_frac"] == pytest.approx(0.15)
    # stages cover 2 s + 1 s of the 10 s window
    assert d["driver_only_s"] == pytest.approx(7.0)
    assert d["gc_s"] == pytest.approx(0.25)


def test_running_stage_counts_until_step_end():
    d = step_deltas([_stage(1, submit=8000)], n_jobs=1, t0_ms=0,
                    t1_ms=10_000, cores=1, gc_ms=0)
    assert d["driver_only_s"] == pytest.approx(8.0)


def test_heaviest_ignores_single_task_and_skipped():
    stages = [_stage(1, tasks=1, run=9000), _stage(2, run=100),
              _stage(3, run=500), _stage(4, status="SKIPPED", run=10**6)]
    assert heaviest(stages).stage_id == 3
    assert heaviest([_stage(1, tasks=1)]) is None
