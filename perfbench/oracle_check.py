"""``--check``: each workload's generator at reduced size through both the
Spark engine (``CrawlJob``) and the pure-Python oracle (``HeritrixSim``),
compared event for event and on the final URL-seen set, as
``tests/test_frontier_order.py`` does."""

from __future__ import annotations

import os

from heritrix_spark.oracle.heritrix_sim import HeritrixSim
from heritrix_spark.plans.crawl_job import CrawlJob

from perfbench import workloads
from perfbench.workloads import WORKLOADS

EVENT_KEY = ["class_key", "url", "canon_url", "kind", "directive", "cost",
             "ordinal", "retries", "status", "fetch_start", "fetch_end",
             "event"]
CHECK_STEPS = 4


def compare(spark, wl, seed: int, work_dir: str) -> dict:
    small = wl.reduced()
    sim = HeritrixSim(small.spec, small.cfg)
    sim.schedule_seeds(workloads.seed_urls(small, seed))
    sim.run(CHECK_STEPS)

    paths, _ = workloads.ensure_fixture(spark, small.spec,
                                        os.path.join(work_dir, "fixtures"))
    job = CrawlJob(spark, small.spec, small.cfg,
                   work_dir=os.path.join(work_dir, f"check_{wl.name}"),
                   durable_seen=True,
                   **workloads.crawl_inputs(spark, paths))
    job.schedule_seed_frame(workloads.seed_frame(spark, small, seed, paths))
    job.run(CHECK_STEPS)

    oracle = sorted(tuple(e[k] for k in ["step"] + EVENT_KEY)
                    for e in sim.fetch_log)
    engine = sorted(tuple(r[k] for k in ["crawl_step"] + EVENT_KEY)
                    for r in job.events_df().collect())
    diff = sum(1 for o, e in zip(oracle, engine) if o != e)
    diff += abs(len(oracle) - len(engine))
    seen_ok = {r["canon_url"] for r in job.seen.collect()} == sim.seen
    ok = bool(oracle) and diff == 0 and seen_ok
    return {"workload": wl.name, "ok": ok, "events": len(oracle),
            "steps": CHECK_STEPS,
            "detail": f"event_diffs={diff} seen_equal={seen_ok}"
                      f" qmode={job.qmode}"}


def run_all(spark, work_dir: str, seed: int,
            names: list[str] | None = None) -> list[dict]:
    return [compare(spark, WORKLOADS[n], seed, work_dir)
            for n in (names or list(WORKLOADS))]
