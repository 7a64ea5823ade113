#!/usr/bin/env python
"""Burst-phase attribution probe (round-4 item #1).

Sets up the bench2 crawl, runs a few supersteps to reach steady state,
then times the burst job's constituent scans separately:

  A. base scan alone (count)
  B. base scan + removal anti-join (count)
  C. B + qdf join + eligibility filter (count)
  D. C + WindowGroupLimit rank filter (count)
  E. the full burst plan via _burst_topk (count)
  F. the full burst + law columns + _ck (the real per-step job)
  G. rem_stats job (clock-input scan, pandas mode)

Run:  SPARK_GRAFT_CPUS=16 taskset -c 0-15 python tools/profile_burst.py
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import Window
from pyspark.sql import functions as F

from heritrix_spark import config as C
from heritrix_spark.fixtures import websim
from heritrix_spark.operators.extract import url_of_expr
from heritrix_spark.plans.crawl_job import CrawlJob
from heritrix_spark.session import get_spark

sys.path.insert(0, HERE)
import bench as B  # noqa: E402  (fixture cache helper)

SPEC = os.environ.get("SPARK_GRAFT_CRAWL_SPEC", "bench2")
STEPS = int(os.environ.get("SPARK_GRAFT_PROFILE_STEPS", "2"))


def t(label, fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(json.dumps({"probe": label, "sec": round(best, 3),
                      "result": out}), flush=True)
    return best


def main():
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("burst-profile", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spec = websim.SPECS[SPEC]
    paths = B._fixture_paths(spark, spec)
    work = "/tmp/heritrix_profile_work"
    shutil.rmtree(work, ignore_errors=True)
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        max_steps=100, window_ms=40_000_000,
                        burst_max=8192)
    job = CrawlJob(spark, spec, cfg,
                   images=spark.read.parquet(paths["images"]),
                   robots_rules=spark.read.parquet(paths["robots"]),
                   host_config=spark.read.parquet(paths["host_config"]),
                   work_dir=work, checkpoint_interval=1000,
                   durable_seen=True)
    seed_df = spark.range(spec.n_images).select(
        url_of_expr(F.col("id"), spec.n_hosts).alias("url"),
        F.lit("").alias("hops_path"), F.lit("").alias("via"),
        F.lit(True).alias("is_seed"),
        F.lit(C.MEDIUM).cast("int").alias("directive"),
        F.lit(0).cast("long").alias("earliest_ts"),
        F.lit("").alias("_ord_ck"), F.lit(0).cast("int").alias("_ord_rn"),
        F.col("id").cast("int").alias("_ord_j"))
    job.schedule_seed_frame(seed_df)
    for _ in range(STEPS):
        job.superstep()
    print(json.dumps({"probe": "state", "base_rows": job._base_rows,
                      "removed_rows": job._removed_rows,
                      "delta_rows": job._delta_rows,
                      "seen": job._seen_count,
                      "bloom_nbits": job._bloom_nbits,
                      "bloom_active": job._bloom_bits is not None}),
          flush=True)

    qcols = ["class_key", "wake_ts", "balance"]
    qdf = job._live_queue_frame(qcols, now=job.now)
    base = job._base
    t("A_base_scan", lambda: base.count())
    live = job._base_live()
    t("B_base_minus_removed", lambda: live.count())
    elig = F.col("earliest_ts") <= F.greatest(F.col("wake_ts"),
                                              F.col("_now"))
    eb = live.join(job._maybe_bcast(qdf), "class_key").where(elig)
    t("C_plus_qdf_elig", lambda: eb.count())
    w1 = Window.partitionBy("class_key", "_salt").orderBy(
        "directive", "cost", "ordinal")
    ebk = (eb.withColumn("_srn", F.row_number().over(w1))
           .where(F.col("_srn") <= cfg.burst_max).drop("_srn", "_salt"))
    t("D_plus_wgl", lambda: ebk.count())
    full = job._burst_topk(qdf, 1)
    t("E_full_topk", lambda: full.count())
    t("F_full_topk_ck", lambda: job._ck(full).count(), n=1)
    # G: the rem_stats-shaped scan (pandas-mode clock input)
    sel_fake = full.select("url_fp")
    g = (job.frontier_hot
         .join(F.broadcast(sel_fake), "url_fp", "left_anti")
         .groupBy("class_key").agg(F.min("earliest_ts").alias("ome")))
    t("G_rem_stats", lambda: g.count())


if __name__ == "__main__":
    main()
