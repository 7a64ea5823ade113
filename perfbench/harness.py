"""One timed (or traced) run of one workload: set up, run supersteps for a
fixed wall budget, checkpoint, check the journal invariants, resume.

The load is a closed loop from one driver process: each superstep starts
when the previous one returns.
"""

from __future__ import annotations

import os
import resource
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from heritrix_spark.plans.crawl_job import CrawlJob
from heritrix_spark.sources.catalog import SnapshotCatalog

from perfbench import invariants, layers, sparkstats, workloads
from perfbench.stats import median
from perfbench.workloads import Workload

MIN_STEPS = 2  # a step median needs at least two steps
REPLAY_STEPS = 1  # operator replays read the last measured step's pages


@dataclass
class Ops:
    """Operation ledger: supersteps, checkpoints, resumes and checks."""
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{name}: {detail}".rstrip(": "))
        return ok


def _jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current()
               .pid())


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return py + _vm_hwm_mb(_jvm_pid(spark))


def _state_sizes(job: CrawlJob) -> dict:
    return {"step": job.step, "now": job.now, "seen": job.seen.count(),
            "frontier": job.frontier_hot.count()}


def _queue_count(job: CrawlJob) -> int:
    return (job.queues_sdf.count() if job.qmode == "dataframe"
            else len(job.queues))


def _catalog_bytes(root: str, step: int) -> int:
    total = 0
    for table in os.listdir(root):
        d = os.path.join(root, table, f"step={step}")
        for dirpath, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files)
    return total


class _TimedCatalogWrites:
    """Times ``SnapshotCatalog.write`` calls made through one catalog."""

    def __init__(self, catalog: SnapshotCatalog):
        self.catalog = catalog
        self.seconds = 0.0

    def __enter__(self):
        orig = self.catalog.write

        def write(table, df, step):
            t = time.perf_counter()
            orig(table, df, step)
            self.seconds += time.perf_counter() - t

        self.catalog.write = write
        return self

    def __exit__(self, *exc):
        del self.catalog.write  # back to the class method


def run(spark: SparkSession, wl: Workload, seed: int, seconds: float,
        trace: bool, work_dir: str, cache_root: str, cores: int,
        t_start: float, t_session: float) -> tuple[dict, Ops]:
    """Returns (metrics, ops).  ``t_start`` is process start,
    ``t_session`` the seconds ``get_spark`` took."""
    ops = Ops()
    m: dict[str, float] = {"session.get_spark_s": t_session}

    t = time.perf_counter()
    paths, built = workloads.ensure_fixture(spark, wl.spec, cache_root)
    t_cache = time.perf_counter() - t if built else 0.0
    t = time.perf_counter()
    inputs = workloads.crawl_inputs(spark, paths)
    seeds = workloads.seed_frame(spark, wl, seed, paths)
    m["fixtures.gen_s"] = time.perf_counter() - t

    crawl_dir = os.path.join(work_dir, "crawl")
    # The harness takes the only checkpoint itself.  The seen set is the
    # durable bucketed table, the engine bench.py measured.
    kw = dict(work_dir=crawl_dir, checkpoint_interval=10**9,
              durable_seen=True, **inputs)
    t = time.perf_counter()
    job = CrawlJob(spark, wl.spec, wl.cfg, **kw)
    m["crawl_job.init_s"] = time.perf_counter() - t
    t = time.perf_counter()
    job.schedule_seed_frame(seeds)
    m["crawl_job.seed_s"] = time.perf_counter() - t
    m["setup_s"] = time.time() - t_start - t_cache

    reader = sparkstats.StatusReader(spark.sparkContext) if trace else None
    step_s: list[float] = []
    step_n: list[int] = []
    per_step: list[dict] = []
    skews: list[float] = []
    sizes: list[dict] = []
    trace_s = 0.0
    t_loop = time.perf_counter()
    while (not job.done and (len(step_s) < MIN_STEPS
                             or time.perf_counter() - t_loop < seconds)):
        if reader is not None:
            tt = time.perf_counter()
            gc0, t0_ms = reader.gc_ms(), int(time.time() * 1000)
            trace_s += time.perf_counter() - tt
        t = time.perf_counter()
        try:
            n = job.superstep()
        except Exception as e:  # noqa: BLE001 — counted, run ends
            ops.record("superstep", False, repr(e)[:200])
            break
        step_s.append(time.perf_counter() - t)
        step_n.append(n)
        ops.record("superstep", True)
        if reader is not None:
            tt = time.perf_counter()
            t1_ms = int(time.time() * 1000)
            reader.drain()
            n_jobs, stages = reader.new_since_last()
            per_step.append(sparkstats.step_deltas(
                stages, n_jobs, t0_ms, t1_ms, cores, reader.gc_ms() - gc0))
            big = sparkstats.heaviest(stages)
            sk = reader.skew(big) if big is not None else None
            if sk is not None:
                skews.append(sk)
            sizes.append({"frontier": job.frontier_hot.count(),
                          "seen": job.seen.count(),
                          "queues": _queue_count(job),
                          "dataframe": job.qmode == "dataframe"})
            trace_s += time.perf_counter() - tt
    if step_s:
        m["urls_per_s"] = sum(step_n) / sum(step_s)
        m["step_s_p50"] = median(step_s)
        m["crawl_job.first_step_s"] = step_s[0]
    m["steps_measured"] = len(step_s)

    writes = _TimedCatalogWrites(job.catalog) if trace else None
    t = time.perf_counter()
    try:
        if writes is not None:
            with writes:
                job.checkpoint()
        else:
            job.checkpoint()
        ok = True
    except Exception as e:  # noqa: BLE001
        ok = ops.record("checkpoint", False, repr(e)[:200])
    m["checkpoint_s"] = time.perf_counter() - t
    if ok:
        ops.record("checkpoint", True)
        if writes is not None:
            m["sources.catalog.write_s"] = writes.seconds
            m["sources.catalog.write_mb"] = _catalog_bytes(
                crawl_dir, job.step) / sparkstats.MB
        if trace:
            m.update(layers.replay(job, REPLAY_STEPS))
        t = time.perf_counter()
        checks = invariants.journal_checks(
            job.events_df(), job.scheduled_df(), job.seen)
        for name, bad in checks.items():
            ops.record(name, bad == 0, f"{bad} violating rows")
        before = _state_sizes(job)
        m["phase.checks_s"] = time.perf_counter() - t

        t = time.perf_counter()
        try:
            resumed = CrawlJob.resume(spark, wl.spec, wl.cfg, **kw)
            m["resume_s"] = time.perf_counter() - t
            ops.record("resume", True)
            t = time.perf_counter()
            bad = invariants.resume_mismatches(before,
                                               _state_sizes(resumed))
            ops.record("resume_state_equal", bad == 0,
                       f"{bad} fields differ")
            m["phase.checks_s"] += time.perf_counter() - t
            if trace:
                m["sources.catalog.read_snapshot_s"] = \
                    layers.read_snapshots(resumed)
        except Exception as e:  # noqa: BLE001
            ops.record("resume", False, repr(e)[:200])

    if trace and per_step:
        def med(key):
            return median([d[key] for d in per_step])

        m.update({
            "crawl_job.superstep_s": median(step_s),
            "crawl_job.urls_per_step": median(step_n),
            "crawl_job.frontier_rows": sizes[-1]["frontier"],
            "crawl_job.seen_rows": sizes[-1]["seen"],
            "crawl_job.queues": sizes[-1]["queues"],
            "crawl_job.qmode_dataframe_steps":
                sum(1 for s in sizes if s["dataframe"]),
            "spark.driver_only_s_per_step": med("driver_only_s"),
            "spark.jobs_per_step": med("jobs"),
            "spark.stages_per_step": med("stages"),
            "spark.executor_busy_frac": med("executor_busy_frac"),
            "spark.tasks_per_step": med("tasks"),
            "spark.shuffle_write_mb_per_step": med("shuffle_write_mb"),
            "spark.shuffle_read_mb_per_step": med("shuffle_read_mb"),
            "spark.spill_mb_per_step": med("spill_mb"),
            "spark.task_skew_max_over_p50": median(skews) if skews else 1.0,
            "spark.failed_tasks": sum(d["failed_tasks"] for d in per_step),
            "jvm.gc_s_per_step": med("gc_s"),
            "trace.overhead_s_per_step": trace_s / len(per_step),
            "trace.step_s_p50": median(step_s),
        })
    m["peak_rss_mb"] = peak_rss_mb(spark)
    m["ops_ok_frac"] = 1.0 - ops.failed / max(ops.attempted, 1)
    return m, ops
