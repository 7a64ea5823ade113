#!/usr/bin/env python
"""Per-job timeline of one perfbench workload's crawl phases.

Runs the workload's set-up (job init + seed injection), N supersteps, a
checkpoint and a resume, and prints every Spark job each phase launched:
start offset from the phase start, duration, tasks, stages, whether any
of its stages scans a ``PythonRDD`` (a Python-worker job, e.g. a frame
built by ``createDataFrame(<python list>)``) and the job's call site —
all read from Spark's status store and status tracker.  A per-phase
summary (jobs, Python-worker jobs and their summed seconds) follows as
one JSON line per phase.

    python3 tools/step_jobs.py --workload frontier_drain --steps 2

Run from the repository root: it uses perfbench's box settings and its
fixture cache (``.bench_cache/``) and writes its scratch under
``.bench_work/`` (removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.getcwd())

from heritrix_spark.plans.crawl_job import CrawlJob  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench import workloads as W  # noqa: E402


class JobLog:
    """Jobs started since the previous call, from a live SparkContext."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = sc.statusTracker()
        self._seen = set(self._tracker.getJobIdsForGroup(None))

    def new_jobs(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        ids = sorted(set(self._tracker.getJobIdsForGroup(None)) - self._seen)
        self._seen.update(ids)
        return [j for j in map(self._job, ids) if j is not None]

    def _job(self, job_id: int) -> dict | None:
        try:
            jd = self._store.job(job_id)
        except Exception:  # noqa: BLE001 — evicted from the store
            return None

        def ms(opt):
            return int(opt.get().getTime()) if opt.isDefined() else None

        sids = [int(s) for s in
                jd.stageIds().mkString(",").split(",") if s]
        start, end = ms(jd.submissionTime()), ms(jd.completionTime())
        return {"job": job_id, "start_ms": start,
                "dur_s": ((end - start) / 1e3
                          if start is not None and end is not None
                          else None),
                "tasks": int(jd.numTasks()), "stages": len(sids),
                "python": any(self._scans_python(s) for s in sids),
                "call_site": str(jd.name())}

    def _scans_python(self, stage_id: int) -> bool:
        try:
            root = self._store.operationGraphForStage(stage_id).rootCluster()
        except Exception:  # noqa: BLE001 — evicted from the store
            return False
        todo = [root]
        while todo:
            c = todo.pop()
            nodes = c.childNodes()
            if any("PythonRDD" in str(nodes.apply(i).name())
                   for i in range(nodes.size())):
                return True
            kids = c.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return False


def report(phase: str, t0_ms: int, wall_s: float, jobs: list[dict]) -> dict:
    for j in jobs:
        off = ((j["start_ms"] - t0_ms) / 1e3
               if j["start_ms"] is not None else float("nan"))
        dur = j["dur_s"] if j["dur_s"] is not None else float("nan")
        print(f"{phase:<11} {j['job']:>5} {off:>8.2f} {dur:>7.2f} "
              f"{j['tasks']:>6} {j['stages']:>6} "
              f"{'py' if j['python'] else '--':>3}  {j['call_site']}")
    py = [j for j in jobs if j["python"]]
    return {"phase": phase, "wall_s": round(wall_s, 3), "jobs": len(jobs),
            "python_jobs": len(py),
            "python_job_s": round(sum(j["dur_s"] or 0.0 for j in py), 3)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="frontier_drain",
                    choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--steps", type=int, default=2)
    args = ap.parse_args()
    wl = W.WORKLOADS[args.workload]
    work = os.path.join(R.ROOT, ".bench_work",
                        f"step-jobs-{os.getpid()}-{time.time_ns()}")
    box = R._box(work)
    spark, _ = R._start_spark(box)
    try:
        paths, _ = W.ensure_fixture(spark, wl.spec,
                                    os.path.join(R.ROOT, ".bench_cache"))
        kw = dict(work_dir=os.path.join(work, "crawl"),
                  checkpoint_interval=10**9, durable_seen=True,
                  **W.crawl_inputs(spark, paths))
        seeds = W.seed_frame(spark, wl, args.seed, paths)
        log = JobLog(spark.sparkContext)
        print(f"{'phase':<11} {'job':>5} {'start_s':>8} {'dur_s':>7} "
              f"{'tasks':>6} {'stages':>6} {'py':>3}  call site")
        summary = []

        def phase(name, fn):
            t0_ms, t = int(time.time() * 1000), time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t
            summary.append(report(name, t0_ms, wall, log.new_jobs()))
            return out

        job = phase("init", lambda: CrawlJob(spark, wl.spec, wl.cfg, **kw))
        phase("seed", lambda: job.schedule_seed_frame(seeds))
        for i in range(args.steps):
            phase(f"step{i + 1}", job.superstep)
        phase("checkpoint", job.checkpoint)
        phase("resume", lambda: CrawlJob.resume(spark, wl.spec, wl.cfg, **kw))
        for s in summary:
            print(json.dumps(s))
    finally:
        R._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
