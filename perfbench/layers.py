"""Traced-run operator replays: each layer's public function re-run on the
workload's own step data as one timed, materialized job (rows in/out).

Replays run after the measured steps, on the pages the last measured steps
fetched, so they never perturb the timed loop.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from heritrix_spark import config as C
from heritrix_spark.functions.canonicalize import (host_expr, path_expr,
                                                   with_canon)
from heritrix_spark.operators import robots as R
from heritrix_spark.operators.extract import outlinks_of
from heritrix_spark.operators.schedule import top_k_per_queue
from heritrix_spark.operators.scope import scope_accepts_expr
from heritrix_spark.operators.uniq import SeenFilter


def _timed_count(df: DataFrame) -> tuple[float, int]:
    """Materialize every column of ``df`` (hash-sum over all of them, so
    column pruning cannot skip work); returns (seconds, rows)."""
    t = time.perf_counter()
    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*df.columns)).alias("h")).first()
    return time.perf_counter() - t, int(row["n"])


def _pinned(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


def replay(job, steps: int) -> dict[str, float]:
    """Operator replays over the pages the last ``steps`` checkpointed
    supersteps fetched; URL-seen membership is probed against the seen set
    as it stood before those steps."""
    out: dict[str, float] = {}
    first = job.step - steps
    pages, n_pages = _pinned(
        job.fetched_df().where((F.col("crawl_step") >= first)
                               & (F.col("fetch_status") == C.S_OK))
        .select("url", "hops_path"))
    links = outlinks_of(pages, job.spec)
    out["operators.extract.outlinks_s"], n_links = _timed_count(links)
    out["operators.extract.links_per_page"] = n_links / max(n_pages, 1)
    links, _ = _pinned(links.select("url", "hops_path"))

    canon = with_canon(links, "url", "canon_url")
    out["functions.canonicalize.with_canon_s"], _ = _timed_count(canon)

    scoped = links.where(scope_accepts_expr(job.cfg, F.col("url"),
                                            F.col("hops_path")))
    out["operators.scope.scope_s"], n_in_scope = _timed_count(scoped)
    out["operators.scope.accept_frac"] = n_in_scope / max(n_links, 1)

    verdict = R.join_rules(links.withColumn("host", host_expr(F.col("url"))),
                           job.rules).select(
        "url", R.disallowed_expr(path_expr(F.col("url")),
                                 F.col("robots_rules")).alias("precluded"))
    out["operators.robots.verdict_s"], _ = _timed_count(verdict)

    cands, n_cands = _pinned(with_canon(links, "url", "canon_url")
                             .select("canon_url").distinct())
    added = (job.scheduled_df().where(F.col("crawl_step") >= first)
             .select("url_fp"))
    seen_before, _ = _pinned(job.seen.join(added, "url_fp", "left_anti"))
    unseen = SeenFilter(job.spark, seen_before).filter_unseen(cands)
    out["operators.uniq.seen_membership_s"], n_unseen = _timed_count(unseen)
    out["operators.uniq.unseen_frac"] = n_unseen / max(n_cands, 1)

    cfg = job.cfg
    top = top_k_per_queue(job.frontier, ["class_key"],
                          [F.col("directive"), F.col("cost"),
                           F.col("ordinal")], cfg.burst_max,
                          salt_col="url_fp", salt_count=cfg.partition_salt)
    out["operators.schedule.top_k_s"], _ = _timed_count(top)
    for df in (pages, links, cands, seen_before):
        df.unpersist()
    return out


def read_snapshots(job) -> float:
    """Seconds to read and materialize the job's latest snapshot tables
    (the resume read path) through ``SnapshotCatalog.read_snapshot``."""
    step = job.catalog.latest()["step"]
    t = time.perf_counter()
    for table in ("frontier", "queue_state", "host_state"):
        df = job.catalog.read_snapshot(table, step)
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t
