#!/usr/bin/env python
"""Candidate-pipeline attribution probe (round-4: cand_unseen_ck is the
dominant superstep phase at ~21 s/step, 16 cores, bloom off).

Reaches bench2 steady state, then times the pipeline's constituent
scans over ONE burst's parents:

  A. outlink explode only (count)
  B. + scope fold (count)
  C. + canonicalize (count distinct-ish via fp sum to force evaluation)
  D. + xxhash fp (agg sum)
  E. c0 persist build (count after persist)
  F. fp projection repartition+dropDuplicates (count)
  G. F + seen anti-join (count)
  H. the real _candidate_plan + _ck end-to-end

Run: SPARK_GRAFT_CPUS=16 taskset -c 0-15 python tools/profile_cand.py
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F

from heritrix_spark import config as C
from heritrix_spark.fixtures import websim
from heritrix_spark.functions.canonicalize import canonicalize_expr
from heritrix_spark.operators.extract import outlinks_of, url_of_expr
from heritrix_spark.operators.scope import scope_accepts_expr
from heritrix_spark.plans.crawl_job import CrawlJob
from heritrix_spark.session import get_spark

import bench as B  # noqa: E402

SPEC = os.environ.get("SPARK_GRAFT_CRAWL_SPEC", "bench2")


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
    spark = get_spark("cand-profile", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spec = websim.SPECS[SPEC]
    paths = B._fixture_paths(spark, spec)
    work = "/tmp/heritrix_candprof_work"
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
    job.superstep()
    job.superstep()

    # Reconstruct one burst's parents the same way superstep does.
    qcols = ["class_key", "wake_ts", "balance"]
    qdf = job._live_queue_frame(qcols, now=job.now)
    a = (job._burst_topk(qdf, 1)
         .where(F.col("_rn") <= cfg.burst_max))
    sel = job._ck(a)
    parents = (job.frontier_cold
               .join(F.broadcast(sel.select("url_fp")), "url_fp")
               .select("url", "hops_path",
                       F.lit("q").alias("_ord_ck"),
                       F.lit(0).alias("_ord_rn"),
                       F.lit(0).cast("long").alias("_pts")))
    links = outlinks_of(parents, spec)
    print(json.dumps({"probe": "burst_rows", "n": sel.count()}), flush=True)

    t("A_explode", lambda: links.count())
    sc = links.where(scope_accepts_expr(cfg, F.col("url"),
                                        F.col("hops_path")))
    t("B_scope", lambda: sc.count())
    canon = sc.withColumn("canon_url", canonicalize_expr(F.col("url")))
    t("C_canonicalize", lambda: canon.select(
        F.sum(F.length("canon_url"))).collect()[0][0])
    fp = canon.withColumn("url_fp", F.xxhash64(F.col("canon_url")))
    t("D_fp", lambda: fp.select(F.sum("url_fp")).collect()[0][0])
    c0 = fp.persist()
    t("E_persist_build", lambda: c0.count(), n=1)
    fps = c0.select("url_fp").repartition(
        job.SEEN_BUCKETS, F.col("url_fp")).dropDuplicates(["url_fp"])
    t("F_fp_dedup", lambda: fps.count())
    unseen = fps.join(job.seen.select("url_fp"), "url_fp", "left_anti")
    t("G_anti_join", lambda: unseen.count())
    c0.unpersist()

    cand = links.select(
        "url", "hops_path", "via", F.lit(False).alias("is_seed"),
        F.lit(C.NORMAL).cast("int").alias("directive"),
        F.col("_pts").alias("earliest_ts"),
        "_ord_ck", "_ord_rn", F.col("link_idx").alias("_ord_j"))
    t("H_full_candidate_plan", lambda: job._ck(
        job._candidate_plan(cand)).count(), n=1)


if __name__ == "__main__":
    main()
