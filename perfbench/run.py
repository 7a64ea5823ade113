"""Crawl-frontier benchmark entry point.

Timed run (end-to-end metrics) or traced run (per-layer metrics) of one
workload; the last stdout line is the JSON result::

    python3 perfbench/run.py --workload frontier_drain --seed 1 \
        --seconds 10 --trace 0

Oracle comparison of every workload's generator at reduced size::

    python3 perfbench/run.py --check

Run from the repository root.  Everything the run writes stays under the
working directory: ``.bench_cache/`` (fixture tables, reused across runs)
and ``.bench_work/`` (per-run Spark scratch and crawl state, removed at
exit).
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

# Box settings, identical on every commit compared: all cores of this
# process's CPU set, a driver heap that fits a 15 GB machine, Spark scratch
# inside the working directory.
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = max(CORES, 8)


def _metric_units(kind: str) -> dict[str, str]:
    """Metric name → unit, in ``BENCHMARK.json`` order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _box(work: str) -> dict:
    return {"cores": CORES, "driver_mem": DRIVER_MEM,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "local_dir": os.path.join(work, "spark-local"),
            "work_dir": work}


def _start_spark(box: dict):
    """Session with the box settings pinned through the env knobs
    ``session.get_spark`` reads (stale overrides are cleared)."""
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CONF"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(box["cores"])
    os.environ["SPARK_DRIVER_MEM"] = box["driver_mem"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = box["local_dir"]
    os.environ["TMPDIR"] = box["local_dir"]
    os.makedirs(box["local_dir"], exist_ok=True)
    from heritrix_spark.session import get_spark

    tmp = f"-Djava.io.tmpdir={box['local_dir']}"
    t = time.perf_counter()
    spark = get_spark(
        "perfbench", cores=box["cores"],
        shuffle_partitions=box["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(box["work_dir"],
                                                    "warehouse"),
            "spark.driver.extraJavaOptions": tmp,
        })
    return spark, time.perf_counter() - t


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall back to kill
                proc.kill()
                proc.wait(timeout=30)


def _result(correct: bool, attempted: int, failed: int,
            metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in units.items()}})


def timed(args, box) -> int:
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    spark, t_session = _start_spark(box)
    ops = harness.Ops()
    metrics: dict = {}
    try:
        metrics, ops = harness.run(
            spark, wl, args.seed, args.seconds, bool(args.trace),
            box["work_dir"], os.path.join(ROOT, ".bench_cache"),
            box["cores"], T_START, t_session)
    except Exception:  # noqa: BLE001 — reported as a failed run
        traceback.print_exc()
        ops.record("run", False, "raised")
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        metrics["phase.stop_s"] = time.perf_counter() - t
    end_to_end = _metric_units("end_to_end")
    units = _metric_units("per_layer") if args.trace else end_to_end
    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} "
          f"box={json.dumps(box)} steps={metrics.get('steps_measured')}")
    for k, u in {**end_to_end, **units}.items():
        if k in metrics:
            print(f"# {k} = {metrics[k]:.6g} {u}")
    print("# phases: " + " ".join(
        f"{k}={v:.2f}" for k, v in metrics.items()
        if k.startswith(("phase.", "session.", "fixtures.", "crawl_job."))
        and k.endswith("_s")) + f" total={time.time() - T_START:.2f}")
    print(f"# ops_failed_frac = {ops.failed / max(ops.attempted, 1):.6g} "
          f"({ops.failed}/{ops.attempted})")
    correct = ops.failed == 0 and all(k in metrics for k in units)
    print(f"# correctness: {'PASS' if correct else 'FAIL'} "
          + "; ".join(ops.notes))
    print(_result(correct, max(ops.attempted, 1), ops.failed, metrics,
                  units))
    return 0


def check(args, box) -> int:
    from perfbench import oracle_check

    spark, _ = _start_spark(box)
    try:
        results = oracle_check.run_all(spark, box["work_dir"], args.seed,
                                       [args.workload] if args.workload
                                       else None)
    finally:
        _stop_spark(spark)
    failed = sum(1 for r in results if not r["ok"])
    for r in results:
        print(f"# check {r['workload']}: {'PASS' if r['ok'] else 'FAIL'} "
              f"events={r['events']} steps={r['steps']} {r['detail']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(results),
                      "failed": failed, "metrics": {}}))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true",
                    help="compare engine and oracle at reduced size")
    args = ap.parse_args()
    try:
        import heritrix_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: heritrix_spark is not importable from {ROOT}: "
              f"{e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload is not None and args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    if not args.check and args.workload is None:
        ap.error("--workload is required unless --check")
    work = os.path.join(ROOT, ".bench_work",
                        f"run-{os.getpid()}-{time.time_ns()}")
    box = _box(work)
    try:
        return check(args, box) if args.check else timed(args, box)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
