"""Driver-built frames are Arrow LocalRelations, never list-built PythonRDDs.

``session.local_frame`` must give exactly the frame
``createDataFrame(list, schema)`` gives (schema incl. nullability, rows),
as a ``LocalRelation``; and a crawl — seed, supersteps, checkpoint,
resume, with pandas, DataFrame and seed-promoted queue state — must build
no frame from local Python data (each such frame is a PythonRDD: a
Python-worker job every time a plan scans it).
"""

from __future__ import annotations

import pytest
from pyspark import RDD
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from heritrix_spark import config as C
from heritrix_spark.fixtures import gen, websim
from heritrix_spark.plans import crawl_job as J
from heritrix_spark.session import local_frame

SPEC = websim.SPECS["tiny"]

SCHEMAS = {
    "HOT": J.HOT_SCHEMA,
    "COLD": J.COLD_SCHEMA,
    "COLD2": J.COLD2_SCHEMA,
    "NEW": J.NEW_SCHEMA,
    "QUEUE": J.QUEUE_SCHEMA,
    "HOST_STATE": J.HOST_STATE_SCHEMA,
    "CAND": J.CAND_SCHEMA,
    "SEEN": J.SEEN_SCHEMA,
    "clock": "_now long, _step long",
    "jstep": "_jstep int",
    "wmap": "class_key string, host string, _npre int, _gminr int",
    "prereq": ("class_key string, host string, _ts long, _dns boolean,"
               " _rob boolean, _base long"),
    "sgroup": ("sgroup long, g_dfactor double, g_mind double,"
               " g_maxd double, g_rep long, g_budget long, g_maxs long,"
               " g_maxf long, g_maxb long"),
    "host_upd": ("class_key string, u_rsucc long, u_nfail long,"
                 " u_dns boolean, u_rob boolean, u_step long"),
}

_SAMPLE = {
    T.StringType: ["h0001.example.test:80", ""],
    T.LongType: [2**40 + 7, -1],
    T.IntegerType: [7, -2**31],
    T.ByteType: [3, -128],
    T.BooleanType: [True, False],
    T.DoubleType: [1.5, -0.25],
}


def _struct(schema) -> T.StructType:
    return (T.StructType.fromDDL(schema) if isinstance(schema, str)
            else schema)


def _rows(struct: T.StructType) -> list[tuple]:
    """Two rows of typical values plus one all-NULL row."""
    vals = [_SAMPLE[type(f.dataType)] for f in struct.fields]
    return ([tuple(v[0] for v in vals), tuple(v[1] for v in vals),
             tuple(None for _ in vals)])


@pytest.mark.parametrize("name", sorted(SCHEMAS))
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_matches_list_frame(spark, name, empty):
    schema = SCHEMAS[name]
    rows = [] if empty else _rows(_struct(schema))
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, types and nullability
    assert got.collect() == want.collect()


def test_local_frame_plan_is_local_relation(spark):
    df = local_frame(spark, [(1, 2)], "_now long, _step long")
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    assert "LocalTableScan" in qe.executedPlan().toString()


def _mk(spark, paths, cfg, work_dir, durable_seen):
    return dict(spark=spark, spec=SPEC, cfg=cfg,
                images=spark.read.parquet(paths["images"]),
                robots_rules=spark.read.parquet(paths["robots"]),
                host_config=spark.read.parquet(paths["host_config"]),
                work_dir=work_dir, checkpoint_interval=10**9,
                durable_seen=durable_seen)


@pytest.fixture
def no_list_frames(spark, monkeypatch):
    """Fail every frame built through PySpark's local-data path: a list
    passed to ``createDataFrame``, an empty pandas frame (which skips
    Arrow) and a failed pandas→Arrow conversion all end there."""
    cls = type(spark)
    assert issubclass(cls, SparkSession)
    orig = cls._create_dataframe

    def guarded(self, data, *args, **kwargs):
        if not isinstance(data, RDD):
            raise AssertionError(
                "frame built from local Python data on the engine path; "
                "use heritrix_spark.session.local_frame")
        return orig(self, data, *args, **kwargs)

    monkeypatch.setattr(cls, "_create_dataframe", guarded)


@pytest.mark.parametrize("queue_cfg,qmode,durable_seen", [
    # The tiny web stays below the auto threshold: pandas queue state.
    ({}, "pandas", False),
    ({"queue_state_mode": "dataframe"}, "dataframe", True),
    # The seed batch alone crosses the threshold: promotion at seed time.
    ({"queue_state_auto_threshold": 1}, "dataframe", False),
], ids=["pandas", "dataframe", "promoted"])
def test_crawl_builds_no_list_frames(spark, tmp_path, no_list_frames,
                                     queue_cfg, qmode, durable_seen):
    paths = gen.write_fixture(SPEC, str(tmp_path / "fix"))
    cfg = C.CrawlConfig(
        surt_prefixes=websim.scope_surt_prefixes(),
        # Per-host sheets put the settings dimension into every burst.
        host_settings=(("example.test", (("balance_replenish", 2500),)),),
        **queue_cfg)
    kw = _mk(spark, paths, cfg, str(tmp_path / "crawl"), durable_seen)
    job = J.CrawlJob(**kw)
    job.schedule_seeds(websim.seeds(SPEC))
    assert job.qmode == qmode
    processed = job.superstep() + job.superstep()
    assert processed > 0
    job.checkpoint()
    seen = job.seen.count()
    resumed = J.CrawlJob.resume(**kw)
    assert (resumed.step, resumed.now) == (job.step, job.now)
    assert resumed.seen.count() == seen
    assert resumed.superstep() > 0

    if qmode == "dataframe":
        # The clock reaches the burst plan as broadcast LocalTableScan
        # data, not as a folded literal: generated code stays the same
        # from step to step.
        now = 987_654_321_123
        q = resumed._live_queue_frame(["class_key", "wake_ts"], now=now)
        qe = q._jdf.queryExecution()
        assert str(now) not in qe.optimizedPlan().toString()
        phys = qe.executedPlan().toString()
        assert "LocalTableScan" in phys and "BroadcastExchange" in phys
        assert q.where(q["_now"] == now).count() == q.count() > 0
