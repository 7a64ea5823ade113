"""The invariant checker accepts a clean journal and rejects planted
violations."""

from heritrix_spark import config as C

from perfbench import invariants

EV_COLS = ("url_fp long, class_key string, event string,"
           " fetch_start long, fetch_end long")
CLEAN = [
    (1, "h0", C.EV_SUCCESS, 0, 500),
    (2, "h0", C.EV_RETRY, 3500, 4500),
    (3, "h0", C.EV_DISREGARD, 8000, 8000),  # robots-precluded: 0 ms
    (4, "h1", C.EV_FAILURE, 0, 1000),
    (2, "h0", C.EV_SUCCESS, 9000, 10000),  # the retry's terminal event
]


def _frames(spark, events, seen_fps=(1, 2, 3, 4), sched_fps=(1, 2, 3, 4)):
    ev = spark.createDataFrame(events, EV_COLS)
    seen = spark.createDataFrame([(f, f"u{f}") for f in seen_fps],
                                 "url_fp long, canon_url string")
    sched = spark.createDataFrame([(f,) for f in sched_fps], "url_fp long")
    return ev, sched, seen


def test_clean_journal_passes(spark):
    checks = invariants.journal_checks(*_frames(spark, CLEAN))
    assert checks == {k: 0 for k in checks}


def test_planted_duplicate_fetch_rejected(spark):
    events = CLEAN + [(1, "h0", C.EV_SUCCESS, 12000, 12500)]
    checks = invariants.journal_checks(*_frames(spark, events))
    assert checks["single_terminal_event"] == 1


def test_planted_politeness_overlap_rejected(spark):
    events = CLEAN + [(5, "h1", C.EV_SUCCESS, 500, 1500)]
    checks = invariants.journal_checks(
        *_frames(spark, events, (1, 2, 3, 4, 5), (1, 2, 3, 4, 5)))
    assert checks["politeness_no_overlap"] == 1


def test_fetched_outside_seen_and_seen_size_mismatch(spark):
    ev, sched, seen = _frames(spark, CLEAN, seen_fps=(1, 2, 3))
    assert invariants.fetched_not_seen(ev, seen) == 1
    assert invariants.seen_vs_scheduled(seen, sched) == 1


def test_resume_mismatches():
    cp = {"step": 3, "now": 9000, "seen": 10, "frontier": 4}
    assert invariants.resume_mismatches(cp, dict(cp)) == 0
    assert invariants.resume_mismatches(cp, {**cp, "frontier": 5}) == 1
