"""SparkSession factory tuned for the crawl engine.

Local mode is the test harness; the same confs are what we'd ship in
spark-defaults for a multi-executor cluster (AQE on, adaptive coalescing,
runtime bloom-filter joins for the seen anti-join, Arrow for pandas UDFs).

Cluster execution (north_rule: ``spark-submit --py-files`` at N and 4N
executors): set ``SPARK_GRAFT_MASTER`` (or pass ``master=``) to any Spark
master URL — ``yarn``, ``k8s://…``, ``spark://…`` — and the factory defers
to the cluster manager for parallelism and scratch dirs::

    spark-submit --master yarn --deploy-mode client \\
        --py-files heritrix_spark.zip --num-executors N \\
        your_crawl_driver.py

When launched via spark-submit, an existing session/master is respected
(``getOrCreate`` never overrides a configured master).  The /dev/shm
``spark.local.dir`` is applied only in local mode (single-box shuffle on
tmpfs); clusters keep their manager-provisioned local dirs, or set
``SPARK_GRAFT_LOCAL_DIR`` explicitly.

Driver-built frames go through :func:`local_frame` (an Arrow
``LocalRelation``), never ``createDataFrame(<python list>)``: in classic
PySpark a list-built frame is a PythonRDD, and every plan that reads it
launches a Python-worker job to scan it.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _default_driver_mem() -> str:
    """Driver heap when ``$SPARK_DRIVER_MEM`` is unset: half the machine's
    physical memory, capped at 48g.  Local mode runs the whole engine in
    the driver JVM, and a heap cap above physical memory lets the heap
    grow until the kernel OOM-kills the JVM (a -Xmx48g test session on a
    16 GB machine was killed at 15 GB resident midway through the suite)."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, phys // 2**31))}g"


def get_spark(
    app_name: str = "heritrix_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master=None`` → ``$SPARK_GRAFT_MASTER`` if set (cluster mode), else
    ``local[cores]``.  ``cores=None`` → ``$SPARK_GRAFT_CPUS`` or all.
    ``shuffle_partitions`` defaults to the core count locally — on a real
    cluster size it to 2-3× total cores and let AQE coalesce.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    local = master.startswith("local")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # Engine arithmetic (hash-derived ints) relies on Java long semantics.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static conf (default 100): the superstep loop compiles dozens of
        # distinct codegen stages per step; at 100 entries the janino
        # class cache thrashes and every step pays recompiles of the same
        # sources.  Sized to hold the whole loop's working set.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # PySpark 4 captures the Python call site of every Column function
        # for error messages: a stack walk plus extra py4j round-trips per
        # call, a third to a half of the driver's py4j traffic per
        # superstep (measured: ~9.4k → 5.2-6.6k calls per tiny-crawl step).
        # Turn it back on when chasing an error to its Python line:
        #   SPARK_GRAFT_CONF='spark.python.sql.dataFrameDebugging.enabled=true'
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Shuffle/spill on tmpfs in LOCAL mode only (single-box shuffle writes
    # otherwise serialize on disk bandwidth and flatten core scaling);
    # clusters keep manager-provisioned dirs unless overridden.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR") or (
        ("/dev/shm/spark-local" if os.path.isdir("/dev/shm")
         else "/tmp/spark-local") if local else None)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Generic conf passthrough for experiments / site tuning:
    #   SPARK_GRAFT_CONF='spark.io.compression.codec=zstd;spark.foo=bar'
    # Merged into one dict (env first, programmatic callers win) so the
    # local-mode GC default below can MERGE with — not be replaced by —
    # a user-supplied spark.driver.extraJavaOptions.
    merged: dict[str, str] = {}
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for item in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, _, v = item.partition("=")
        if k and v:
            merged[k.strip()] = v.strip()
    if extra_conf:
        merged.update(extra_conf)
    if local:
        # GC for the single-JVM batch driver, re-measured every round on
        # the current engine: round 3 (regex-heavy candidate pipeline)
        # had ParallelGC +2% at 8 cores; the round-4 engine's hot path
        # is allocation-rate-dominated (guarded canonicalizer — less CPU
        # per byte of string churn) and ParallelGC's stop-the-world
        # collections became the 16-core plateau — G1 measured +17% at
        # 16 cores (17.4k vs 14.9k URLs/s) and -2% (noise) at 4 cores,
        # so G1 is the local default again.  Local mode only — cluster
        # executor JVMs are tuned by the site's spark-defaults.  Applied
        # only when user extraJavaOptions select no collector: HotSpot
        # refuses two GC selections outright ("Multiple garbage
        # collectors selected").
        user_opts = merged.get("spark.driver.extraJavaOptions", "")
        if not re.search(r"-XX:\+Use\w*GC\b", user_opts):
            merged["spark.driver.extraJavaOptions"] = (
                "-XX:+UseG1GC " + user_opts).strip()
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: T.StructType | str) -> DataFrame:
    """A small driver-built frame (``rows`` of ``schema``-ordered tuples;
    ``schema`` a StructType or DDL string) as an Arrow ``LocalRelation``.

    ``spark.createDataFrame(<python list>, schema)`` builds a PythonRDD in
    classic PySpark, so every job that scans the frame starts Python
    workers to unpickle its rows (0.2-0.6 s per use at crawl-step sizes).
    An Arrow table becomes a ``LocalRelation``: the rows live in the plan,
    the scan is a ``LocalTableScan`` with no Python worker, and an empty
    frame is pruned by ``PropagateEmptyRelation``.  The values are still
    data, not literals, so generated code does not change with them."""
    struct = (T.StructType.fromDDL(schema) if isinstance(schema, str)
              else schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, struct)
