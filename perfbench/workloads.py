"""Benchmark workloads: the synthetic web each one crawls, its crawl
config, and the seed frame its ``--seed`` generates.

The web itself (``fixtures/websim``) is a fixed closed-form graph, so the
cached fixture tables depend only on the spec; the workload seed picks the
order URLs are injected in (``frontier_drain``) or which hosts seed the
crawl and in what order (``wide_hosts``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from heritrix_spark import config as C
from heritrix_spark.fixtures import gen, websim
from heritrix_spark.fixtures.websim import FixtureSpec
from heritrix_spark.functions.fingerprint import hash_str_py
from heritrix_spark.operators.extract import host_index_expr, url_of_expr

@dataclass(frozen=True)
class Workload:
    """One workload; why each exists is in BENCHMARK.json and README.md."""
    name: str
    spec: FixtureSpec
    cfg: C.CrawlConfig
    seeding: str  # "whole_web" | "host_sample"
    check_size: tuple[int, int]  # (pages, hosts) of the --check web
    host_frac: float = 1.0  # host_sample: share of present hosts seeded

    def reduced(self) -> "Workload":
        """The same generator at oracle-checkable size (``--check``)."""
        small = FixtureSpec(self.spec.name + "_check", *self.check_size,
                            False)
        cfg = self.cfg
        if self.seeding == "host_sample":
            # Far below the auto threshold: pin the DataFrame queue path
            # the full-size workload runs in.
            cfg = replace(cfg, queue_state_mode="dataframe")
        return replace(self, spec=small, cfg=cfg)


_SCOPE = websim.scope_surt_prefixes()

WORKLOADS = {
    w.name: w for w in [
        Workload(
            name="frontier_drain",
            spec=FixtureSpec("frontier_drain", 20_000, 20, False),
            cfg=C.CrawlConfig(surt_prefixes=_SCOPE, window_ms=4_000_000,
                              burst_max=1024),
            seeding="whole_web", check_size=(1_500, 12)),
        Workload(
            name="wide_hosts",
            spec=FixtureSpec("wide_hosts", 10_000, 40_000, False),
            # ~6.3k hosts hold pages; the 80% sample seeds ~5k queues,
            # past this threshold, so seeding promotes to DataFrame mode.
            cfg=C.CrawlConfig(surt_prefixes=_SCOPE,
                              queue_state_auto_threshold=4_000),
            seeding="host_sample", host_frac=0.8,
            check_size=(3_000, 1_500)),
    ]
}


# ---------------------------------------------------------------- fixtures

def fixture_key(spec: FixtureSpec) -> str:
    return f"{spec.name}-{spec.n_images}-{spec.n_hosts}"


def ensure_fixture(spark: SparkSession, spec: FixtureSpec,
                   cache_root: str) -> tuple[dict[str, str], bool]:
    """Cached fixture tables (images, robots, host config, first page per
    host), keyed by spec.  Returns (paths, built_now)."""
    root = os.path.join(cache_root, fixture_key(spec))
    paths = {t: os.path.join(root, f"{t}.parquet")
             for t in ("images", "robots", "host_config", "host_first")}
    done = os.path.join(root, "_done")
    if os.path.exists(done):
        return paths, False
    os.makedirs(root, exist_ok=True)
    gen.spark_images_df(spark, spec).write.mode("overwrite").parquet(
        paths["images"])
    gen.robots_df(spec).to_parquet(paths["robots"], index=False)
    gen.host_config_df(spec).to_parquet(paths["host_config"], index=False)
    (spark.range(spec.n_images)
     .select(F.col("id").alias("k"),
             host_index_expr(F.col("id"), spec.n_hosts).alias("h"))
     .groupBy("h").agg(F.min("k").alias("k"))
     .write.mode("overwrite").parquet(paths["host_first"]))
    with open(done, "w") as f:
        f.write("ok\n")
    return paths, True


def crawl_inputs(spark: SparkSession,
                 paths: dict[str, str]) -> dict[str, DataFrame]:
    """``CrawlJob`` table arguments from the cached fixture tables."""
    return {"images": spark.read.parquet(paths["images"]),
            "robots_rules": spark.read.parquet(paths["robots"]),
            "host_config": spark.read.parquet(paths["host_config"])}


# -------------------------------------------------------------- seed frames

def _stride(seed: int, n: int) -> tuple[int, int]:
    """A seeded bijection ``j = (a*i + b) mod n`` of ``range(n)``."""
    h = hash_str_py("perfbench-order", str(seed)) & ((1 << 62) - 1)
    a = 1 + h % max(n - 1, 1)
    while _gcd(a, n) != 1:
        a += 1
    return a, (h >> 20) % n


def _gcd(a: int, b: int) -> int:
    while b:
        a, b = b, a % b
    return a


def _seed_cols(url: F.Column, order: F.Column) -> list[F.Column]:
    return [url.alias("url"), F.lit("").alias("hops_path"),
            F.lit("").alias("via"), F.lit(True).alias("is_seed"),
            F.lit(C.MEDIUM).cast("int").alias("directive"),
            F.lit(0).cast("long").alias("earliest_ts"),
            F.lit("").alias("_ord_ck"), F.lit(0).cast("int").alias("_ord_rn"),
            order.cast("int").alias("_ord_j")]


def seed_frame(spark: SparkSession, wl: Workload, seed: int,
               paths: dict[str, str]) -> DataFrame:
    spec = wl.spec
    if wl.seeding == "whole_web":
        a, b = _stride(seed, spec.n_images)
        return spark.range(spec.n_images).select(*_seed_cols(
            url_of_expr(F.col("id"), spec.n_hosts),
            F.pmod(F.col("id") * F.lit(a) + F.lit(b),
                   F.lit(spec.n_images))))
    hosts = spark.read.parquet(paths["host_first"]).toPandas()
    return spark.createDataFrame(
        sample_hosts(hosts, seed, wl.host_frac)[["k", "_ord_j"]]).select(
        *_seed_cols(url_of_expr(F.col("k"), spec.n_hosts), F.col("_ord_j")))


def sample_hosts(hosts: pd.DataFrame, seed: int,
                 frac: float) -> pd.DataFrame:
    """Seeded host sample (columns h, k) in seeded injection order."""
    key = hosts["h"].map(lambda h: hash_str_py("perfbench-host", str(seed),
                                               str(h)))
    hosts = hosts.assign(_key=key).sort_values(["_key", "h"])
    take = hosts.head(max(1, int(round(len(hosts) * frac))))
    return take.assign(_ord_j=range(len(take))).reset_index(drop=True)


def seed_urls(wl: Workload, seed: int) -> list[str]:
    """The seed frame's URLs in injection order, computed in pure Python
    (the oracle's input for ``--check``; reduced sizes only)."""
    spec = wl.spec
    if wl.seeding == "whole_web":
        a, b = _stride(seed, spec.n_images)
        order = sorted(range(spec.n_images),
                       key=lambda i: (a * i + b) % spec.n_images)
        return [websim.url_of(k, spec.n_hosts) for k in order]
    first: dict[int, int] = {}
    for k in range(spec.n_images):
        first.setdefault(websim.host_index(k, spec.n_hosts), k)
    hosts = pd.DataFrame({"h": list(first), "k": list(first.values())})
    take = sample_hosts(hosts, seed, wl.host_frac)
    return [websim.url_of(int(k), spec.n_hosts) for k in take["k"]]
