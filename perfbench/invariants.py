"""Crawl invariants the oracle (``oracle/heritrix_sim.py``) also satisfies,
checked on the engine's journal tables after a timed run.

Each check returns the number of violating rows (0 = holds); the harness
counts a check with violations as a failed operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from heritrix_spark import config as C

FETCH_EVENTS = (C.EV_SUCCESS, C.EV_FAILURE, C.EV_RETRY)
TERMINAL_EVENTS = (C.EV_SUCCESS, C.EV_FAILURE, C.EV_DISREGARD)


def fetched_not_seen(events: DataFrame, seen: DataFrame) -> int:
    """Fetched fingerprints missing from the URL-seen set."""
    return (events.where(F.col("event").isin(*FETCH_EVENTS))
            .select("url_fp").distinct()
            .join(seen.select("url_fp"), "url_fp", "left_anti").count())


def double_terminal(events: DataFrame) -> int:
    """Fingerprints with more than one terminal event."""
    return (events.where(F.col("event").isin(*TERMINAL_EVENTS))
            .groupBy("url_fp").count().where(F.col("count") > 1).count())


def seen_vs_scheduled(seen: DataFrame, scheduled: DataFrame) -> int:
    """|seen| minus distinct F+ fingerprints, plus duplicate seen rows."""
    n_seen = seen.count()
    n_seen_fp = seen.select("url_fp").distinct().count()
    n_sched = scheduled.select("url_fp").distinct().count()
    return abs(n_seen - n_sched) + (n_seen - n_seen_fp)


def politeness_overlaps(events: DataFrame) -> int:
    """Virtual fetch intervals that start before an earlier interval of
    the same ``class_key`` has ended (max-in-flight 1 per queue)."""
    occ = events.where(F.col("fetch_end") > F.col("fetch_start"))
    w = (Window.partitionBy("class_key")
         .orderBy("fetch_start", "fetch_end", "url_fp")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (occ.withColumn("_prev_end", F.max("fetch_end").over(w))
            .where(F.col("fetch_start") < F.col("_prev_end")).count())


def resume_mismatches(checkpointed: dict, resumed: dict) -> int:
    """Fields of the checkpointed state the resumed job does not match."""
    return sum(1 for k, v in checkpointed.items() if resumed.get(k) != v)


def journal_checks(events: DataFrame, scheduled: DataFrame,
                   seen: DataFrame) -> dict[str, int]:
    """All journal invariants, name → violations."""
    return {
        "fetched_in_seen": fetched_not_seen(events, seen),
        "single_terminal_event": double_terminal(events),
        "seen_equals_scheduled": seen_vs_scheduled(seen, scheduled),
        "politeness_no_overlap": politeness_overlaps(events),
    }
