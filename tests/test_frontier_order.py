"""Ordering equivalence — the flagship gate (BASELINE.json north_rule).

The Spark engine must reproduce the pure-Python oracle's crawl
event-for-event: same per-queue dequeue order, same virtual fetch schedule,
same statuses/retries, and an identical final URL-seen set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from heritrix_spark import config as C
from heritrix_spark.fixtures import gen, websim
from heritrix_spark.oracle.heritrix_sim import HeritrixSim
from heritrix_spark.plans import crawl_job
from heritrix_spark.plans.crawl_job import CrawlJob

EVENT_KEY = ["class_key", "url", "canon_url", "kind", "directive", "cost",
             "ordinal", "retries", "status", "fetch_start", "fetch_end",
             "event"]


def _oracle_events(sim: HeritrixSim) -> list[tuple]:
    return sorted(
        tuple(e[k] for k in ["step"] + EVENT_KEY) for e in sim.fetch_log)


def _engine_events(job: CrawlJob) -> list[tuple]:
    rows = job.events_df().collect()
    return sorted(
        tuple(r[k] for k in ["crawl_step"] + EVENT_KEY) for r in rows)


def _run_pair(spark, tmp_path, spec_name: str, cfg: C.CrawlConfig,
              max_steps: int | None, seed_urls: list[str] | None = None):
    spec = websim.SPECS[spec_name]
    fixdir = tmp_path / f"fix_{spec_name}"
    paths = gen.write_fixture(spec, str(fixdir))
    seed_urls = seed_urls if seed_urls is not None else websim.seeds(spec)
    sim = HeritrixSim(spec, cfg)
    sim.schedule_seeds(seed_urls)
    sim.run(max_steps)

    job = CrawlJob(
        spark, spec, cfg,
        images=spark.read.parquet(paths["images"]),
        robots_rules=spark.read.parquet(paths["robots"]),
        host_config=spark.read.parquet(paths["host_config"]),
        work_dir=str(tmp_path / f"work_{spec_name}"))
    job.schedule_seeds(seed_urls)
    job.run(max_steps)
    return sim, job


def _assert_equal(sim, job):
    oracle, engine = _oracle_events(sim), _engine_events(job)
    assert len(engine) == len(oracle)
    for o, e in zip(oracle, engine):
        assert o == e, f"\noracle: {o}\nengine: {e}"
    engine_seen = {r["canon_url"] for r in job.seen.collect()}
    assert engine_seen == sim.seen
    assert sim.fetch_log, "crawl fetched nothing"


def test_tiny_full_crawl_equivalence(spark, tmp_path):
    """Full crawl to frontier exhaustion, wag cost policy."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        cost_policy="wag")
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, None)
    _assert_equal(sim, job)
    assert job.done


def test_prereq_shaped_seeds_equivalence(spark, tmp_path):
    """Seeds that take prerequisite shapes (robots.txt / dns:) collide
    with queue-inserted prerequisites; first-arrival-wins must match the
    oracle's sequential seen-set claims in every direction:

    * robots.txt seed arriving BEFORE any other URL of its host — the
      queue it creates skips its robots prerequisite (ordinals shift);
    * robots.txt seed arriving AFTER a normal seed of the same host — the
      queue's prerequisite claimed first, the seed is dropped;
    * a dns: seed, same two-sided semantics.
    """
    spec_seeds = websim.seeds(websim.SPECS["tiny"])
    seed_urls = [
        "http://h0000.example.test/robots.txt",  # before host 0's seed
        spec_seeds[0],
        spec_seeds[1],
        "http://h0001.example.test/robots.txt",  # after host 1's seed
        "dns:h0002.example.test",                # before host 2's seed
        spec_seeds[2],
    ]
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes())
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 6,
                         seed_urls=seed_urls)
    _assert_equal(sim, job)


def test_quota_enforcer_equivalence(spark, tmp_path):
    """P3 per-host quotas: once a host crosses max-successes/max-fetches,
    its remaining items are disregarded S_BLOCKED_BY_QUOTA and the queue
    retires — engine event-identical to the oracle, including the
    mid-burst crossing."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        max_successes_per_host=4, max_fetches_per_host=9)
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 10)
    _assert_equal(sim, job)
    blocked = [e for e in sim.fetch_log
               if e["status"] == C.S_BLOCKED_BY_QUOTA]
    assert blocked, "fixture never hit the quota — test is vacuous"
    assert (job.queues["successes"] <= 4).all()
    # host_state (W1) tracked the burst results
    hs = job.host_state.set_index("class_key")
    assert hs["robots_fetched"].any()
    assert hs["ip"].notna().any()


def test_byte_quota_equivalence(spark, tmp_path):
    """P3 byte quota: once a host's success bytes (virtual payload
    lattice) cross max_bytes_per_host, remaining items are disregarded
    S_BLOCKED_BY_QUOTA mid-burst and the queue retires — engine
    event-identical to the oracle."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        max_bytes_per_host=40_000)
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 10)
    _assert_equal(sim, job)
    blocked = [e for e in sim.fetch_log
               if e["status"] == C.S_BLOCKED_BY_QUOTA]
    assert blocked, "fixture never hit the byte quota — test is vacuous"
    # retirement fired: every over-quota queue is retired
    over = job.queues[job.queues["bytes"] >= 40_000]
    assert over["retired"].all()


def test_scope_recheck_mid_crawl_equivalence(spark, tmp_path):
    """P1 Preselector re-check: scope tightens mid-crawl (reject_regex
    added via set_config); already-queued items of the newly-rejected
    host are disposed S_OUT_OF_SCOPE at dequeue, event-identical to the
    oracle."""
    import dataclasses

    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        recheck_scope_at_dequeue=True)
    spec = websim.SPECS["tiny"]
    fixdir = tmp_path / "fix_recheck"
    paths = gen.write_fixture(spec, str(fixdir))
    seed_urls = websim.seeds(spec)
    sim = HeritrixSim(spec, cfg)
    sim.schedule_seeds(seed_urls)
    job = CrawlJob(
        spark, spec, cfg,
        images=spark.read.parquet(paths["images"]),
        robots_rules=spark.read.parquet(paths["robots"]),
        host_config=spark.read.parquet(paths["host_config"]),
        work_dir=str(tmp_path / "work_recheck"))
    job.schedule_seeds(seed_urls)
    sim.run(3)
    job.run(3)
    tightened = dataclasses.replace(cfg, reject_regex=r"h0000\.")
    sim.set_config(tightened)
    job.set_config(tightened)
    sim.run(9)
    job.run(9)
    _assert_equal(sim, job)
    oos = [e for e in sim.fetch_log if e["status"] == C.S_OUT_OF_SCOPE]
    assert oos, "no queued item was re-rejected — test is vacuous"


def test_bloom_prefilter_equivalence(spark, tmp_path):
    """With the broadcast bloom URL-seen prefilter forced active from
    step 0, the crawl is event-identical to the oracle — the bloom only
    routes candidates, it never drops (north_rule: exact seen set)."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        use_bloom_prefilter=True,
                        bloom_min_seen=0, bloom_bits=1 << 16)
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 8)
    _assert_equal(sim, job)
    assert job._bloom_was_active  # the prefilter really ran
    if job._bloom_bits is not None:
        assert job._bloom_bits.any()


def test_queue_state_dataframe_equivalence(spark, tmp_path):
    """F3/F6 at design scale: queue_state_mode='dataframe' keeps queues +
    host_state as Spark frames merged by join (no O(#queues) driver
    round-trip, 1-row clock aggregate); the crawl is event-identical to
    the oracle, the final queue table mirrors the oracle's queues, and a
    checkpoint resume restores the same table."""
    spec = websim.SPECS["tiny"]
    paths = gen.write_fixture(spec, str(tmp_path / "fix_qsd"))
    seed_urls = websim.seeds(spec)
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        queue_state_mode="dataframe",
                        max_successes_per_host=6)
    sim = HeritrixSim(spec, cfg)
    sim.schedule_seeds(seed_urls)
    sim.run(8)
    kw = dict(images=spark.read.parquet(paths["images"]),
              robots_rules=spark.read.parquet(paths["robots"]),
              host_config=spark.read.parquet(paths["host_config"]),
              work_dir=str(tmp_path / "work_qsd"))
    job = CrawlJob(spark, spec, cfg, **kw)
    job.schedule_seeds(seed_urls)
    job.run(8)
    _assert_equal(sim, job)
    # Final queue table mirrors the oracle's queue records exactly.
    qrows = {r["class_key"]: r for r in job.queues_sdf.collect()}
    assert set(qrows) == set(sim.queues)
    for ck, q in sim.queues.items():
        r = qrows[ck]
        assert (r["wake_ts"], r["balance"], r["expenditure"],
                r["next_ordinal"], r["successes"], r["fetches"],
                r["retired"]) == (
            q.wake_ts, q.balance, q.expenditure, q.next_ordinal,
            q.successes, q.fetches, q.retired), ck
    # host_state merged in-plan: dns answers landed, robots freshness set.
    hs = {r["class_key"]: r for r in job.host_state_sdf.collect()}
    assert any(r["ip"] is not None for r in hs.values())
    assert any(r["robots_fetched"] for r in hs.values())
    # Checkpoint resume restores the identical queue table.
    job2 = CrawlJob.resume(spark, spec, cfg, **kw)
    restored = {r["class_key"]: r for r in job2.queues_sdf.collect()}
    assert {k: tuple(v) for k, v in qrows.items()} == {
        k: tuple(v) for k, v in restored.items()}


def test_queue_state_auto_promotion_equivalence(spark, tmp_path):
    """queue_state_mode='auto': starts driver-resident, promotes to the
    DataFrame path mid-crawl when #queues crosses the threshold.  With
    threshold=2 on the 3-host tiny web the promotion fires during the
    run; the crawl stays event-identical to the oracle across the
    boundary, the post-promotion queue table mirrors the oracle's, and a
    resume of the auto config from a post-promotion checkpoint restores
    the promoted table (no pointless pandas round-trip)."""
    spec = websim.SPECS["tiny"]
    paths = gen.write_fixture(spec, str(tmp_path / "fix_qa"))
    seed_urls = websim.seeds(spec)
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        queue_state_mode="auto",
                        queue_state_auto_threshold=2)
    sim = HeritrixSim(spec, cfg)
    sim.schedule_seeds(seed_urls)
    sim.run(8)
    kw = dict(images=spark.read.parquet(paths["images"]),
              robots_rules=spark.read.parquet(paths["robots"]),
              host_config=spark.read.parquet(paths["host_config"]),
              work_dir=str(tmp_path / "work_qa"))
    job = CrawlJob(spark, spec, cfg, **kw)
    assert job.qmode == "pandas"  # auto starts driver-resident
    job.schedule_seeds(seed_urls)
    job.run(8)
    assert job.qmode == "dataframe"  # promotion fired mid-crawl
    assert len(job.queues) == 0  # pandas state released
    _assert_equal(sim, job)
    qrows = {r["class_key"]: r for r in job.queues_sdf.collect()}
    assert set(qrows) == set(sim.queues)
    for ck, q in sim.queues.items():
        r = qrows[ck]
        assert (r["wake_ts"], r["balance"], r["expenditure"],
                r["next_ordinal"], r["successes"], r["fetches"],
                r["retired"]) == (
            q.wake_ts, q.balance, q.expenditure, q.next_ordinal,
            q.successes, q.fetches, q.retired), ck
    job.checkpoint()
    job2 = CrawlJob.resume(spark, spec, cfg, **kw)
    assert job2.qmode == "dataframe"  # re-promoted straight at resume
    restored = {r["class_key"]: r for r in job2.queues_sdf.collect()}
    assert {k: tuple(v) for k, v in qrows.items()} == {
        k: tuple(v) for k, v in restored.items()}
    # High threshold: auto never promotes, behaves as pandas end-to-end.
    cfg_hi = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                           queue_state_mode="auto",
                           queue_state_auto_threshold=10_000)
    job3 = CrawlJob(spark, spec, cfg_hi,
                    images=spark.read.parquet(paths["images"]),
                    robots_rules=spark.read.parquet(paths["robots"]),
                    host_config=spark.read.parquet(paths["host_config"]),
                    work_dir=str(tmp_path / "work_qa_hi"))
    job3.schedule_seeds(seed_urls)
    job3.run(8)
    assert job3.qmode == "pandas"
    _assert_equal(sim, job3)


@pytest.mark.parametrize("qmode", ["pandas", "dataframe"])
def test_host_settings_overrides_equivalence(spark, tmp_path, qmode):
    """O5 settings sheets: per-host overrides of politeness/budget/quota
    knobs — an exact-host sheet, a domain-suffix sheet (most-specific
    wins), and untouched hosts on the global sheet — crawl
    event-identical to the oracle in both queue-state modes, and the
    override actually bites (the quota-capped host retires)."""
    spec = websim.SPECS["tiny"]
    paths = gen.write_fixture(spec, str(tmp_path / "fix_hs"))
    cfg = C.CrawlConfig(
        surt_prefixes=websim.scope_surt_prefixes(),
        queue_state_mode=qmode,
        host_settings=(
            # Exact host: the hot host gets 4x-faster politeness and a
            # tight success quota.
            ("h0000.example.test",
             (("min_delay_ms", 750), ("delay_factor", 1.25),
              ("max_successes_per_host", 3))),
            # Domain suffix: every host slows down + small balance.
            ("example.test",
             (("min_delay_ms", 6000), ("balance_replenish", 500))),
        ))
    sim = HeritrixSim(spec, cfg)
    sim.schedule_seeds(websim.seeds(spec))
    sim.run(8)
    job = CrawlJob(spark, spec, cfg,
                   images=spark.read.parquet(paths["images"]),
                   robots_rules=spark.read.parquet(paths["robots"]),
                   host_config=spark.read.parquet(paths["host_config"]),
                   work_dir=str(tmp_path / "work_hs"))
    job.schedule_seeds(websim.seeds(spec))
    job.run(8)
    _assert_equal(sim, job)
    # The exact-host sheet won over the domain sheet and bit: the hot
    # host hit max_successes=3 and retired.
    hot = sim.queues.get("h0000.example.test")
    assert hot is not None and hot.sgroup == 1
    assert hot.retired and hot.successes == 3
    # Other hosts bound the domain sheet.
    assert any(q.sgroup == 2 for q in sim.queues.values())


@pytest.mark.parametrize("probe", ["bucketed", "array"])
def test_bucketed_image_probe_equivalence_and_plan(spark, tmp_path,
                                                   monkeypatch, probe):
    """The size-selected image probes that the tiny fixture is too small
    to reach, forced by zeroing their thresholds: the crawl is
    event-identical to the oracle under the sorted-id Arrow array (200k to
    10^7 images) and the bucketed storage-partitioned probe (the
    10^10-image path).  Bucketed also writes the id projection once as a
    bucketed+sorted table, and its per-step probe join has NO Exchange
    and NO Sort on the images side — only the work-proportional burst
    shuffles."""
    if probe == "bucketed":
        monkeypatch.setattr(crawl_job, "IMAGE_PROBE_BUCKETED_ABOVE", 0)
        monkeypatch.setattr(crawl_job, "IMAGE_PROBE_BUCKETS", 8)
    else:
        monkeypatch.setattr(crawl_job, "IMAGE_PROBE_ARRAY_ABOVE", 0)
    spec = websim.SPECS["tiny"]
    paths = gen.write_fixture(spec, str(tmp_path / "fix_bp"))
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes())
    sim = HeritrixSim(spec, cfg)
    sim.schedule_seeds(websim.seeds(spec))
    sim.run(8)
    job = CrawlJob(spark, spec, cfg,
                   images=spark.read.parquet(paths["images"]),
                   robots_rules=spark.read.parquet(paths["robots"]),
                   host_config=spark.read.parquet(paths["host_config"]),
                   work_dir=str(tmp_path / "work_bp"))
    job.schedule_seeds(websim.seeds(spec))
    job.run(8)
    _assert_equal(sim, job)
    if probe == "array":
        assert job._img_exists_udf is not None and job.image_ids is None
        return
    # Plan shape: storage-partitioned probe join — bucketed scan on the
    # images side (no Exchange, no Sort), one Exchange total (burst side).
    burst = spark.range(500).select(F.col("id").alias("image_num"))
    plan = (burst.join(job.image_ids, "image_num", "left")
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1


@pytest.mark.parametrize("policy,buckets", [
    ("ip", 64), ("surt", 64), ("bucket", 2)])
def test_queue_assignment_policy_equivalence(spark, tmp_path, policy,
                                             buckets):
    """F8 queue-assignment policies as config: the crawl under ip / surt /
    bucket classKeys is event-identical to the oracle (hostname is covered
    by every other test).  bucket with 2 buckets forces MULTIPLE hosts
    into one queue — the generalized per-host prerequisite law."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        queue_assignment=policy, queue_buckets=buckets)
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 8,
                         seed_urls=websim.seeds(websim.SPECS["tiny"]))
    _assert_equal(sim, job)
    if policy == "bucket":
        assert job.queues["class_key"].str.startswith("bucket-").all()
        hosts = {e["class_key"] for e in sim.fetch_log}
        n_hosts_fetched = len(
            {host for q in sim.queues.values() for host in
             {i.url.split("/")[2] for i in q.items if "//" in i.url}}
            | {e["url"].split("/")[2] for e in sim.fetch_log
               if "//" in e["url"]})
        assert len(hosts) < n_hosts_fetched, \
            "no queue ever held two hosts — test is vacuous"
    if policy == "surt":
        assert job.queues["class_key"].str.contains(",").all()


@pytest.mark.slow
def test_small_prefix_equivalence(spark, tmp_path):
    """12-superstep prefix on the 50-host fixture (hot-host skew live)."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes())
    sim, job = _run_pair(spark, tmp_path, "small", cfg, 12)
    _assert_equal(sim, job)


def test_tiered_base_no_shuffle_no_sort(spark, tmp_path):
    """The compacted frontier BASE serves the burst window with NO shuffle
    Exchange and NO Sort: localCheckpoint carries the repartition's
    HashPartitioning(class_key, _salt) and sortWithinPartitions' ordering
    into the LogicalRDD, and the broadcast removal anti-join plus the
    eligibility filter both preserve partitioning and order.  This is the
    10^10-frontier contract — per-step shuffle volume bounded by the
    burst, never the frontier."""
    from pyspark.sql import Window

    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes())
    _sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 3)
    job._maybe_compact_tiers(force=True)
    assert job._base is not None and job._base_rows > 0
    live = job._base_live() or job._base
    w = Window.partitionBy("class_key", "_salt").orderBy(
        "directive", "cost", "ordinal")
    plan = (live.where(F.col("earliest_ts") <= F.lit(1 << 60))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= 5)
            ._jdf.queryExecution().executedPlan().toString())
    # BroadcastExchange (the removal anti-join's build side) is fine;
    # a shuffle Exchange or a Sort over the base is the regression.
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Sort [" not in plan, plan


def test_postfetch_gates_equivalence(spark, tmp_path):
    """S10 post-fetch decide rules: the extraction gate is
    discovery-visible (a rejected parent contributes no candidates), so
    the whole crawl ordering must still match the oracle, which mirrors
    the gate; the write gate filters the `fetched` sink, asserted against
    a rule-mirror recomputation over the oracle's success events."""
    from heritrix_spark.fixtures import gen as G
    from heritrix_spark.functions.fingerprint import url_fp_py
    from heritrix_spark.operators.postfetch import gate_py

    wr = {"mime_accept": "^image/",
          "max_bytes": 4 * C.PAYLOAD_LATTICE_B}
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        extract_rules={"mime_reject": "jpeg$"},
                        write_rules=wr)
    sim, job = _run_pair(spark, tmp_path, "tiny", cfg, 10)
    _assert_equal(sim, job)

    fetched = {r["image_id"] for r in job.fetched_df().collect()}
    expected = set()
    total_ok = 0
    for e in sim.fetch_log:
        if e["event"] != C.EV_SUCCESS or e["kind"] != C.KIND_REAL:
            continue
        total_ok += 1
        k = websim.image_id_of_url(e["url"])
        fp = url_fp_py(e["canon_url"])
        if gate_py(wr, e["status"], "image/" + G.fmt_of(k),
                   C.payload_bytes_of(fp, C.KIND_REAL)):
            expected.add(f"img{k:08d}")
    assert expected, "write gate passed nothing — vacuous"
    assert len(expected) < total_ok, "write gate rejected nothing — vacuous"
    assert fetched == expected
