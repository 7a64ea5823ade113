"""Adaptive bloom sizing (round-4): the prefilter must never run
saturated — size tracks the seen set at ~8 bits/key, capped, and the
filter retires instead of saturating at the cap.

The round-3 default (fixed 2^23 bits) saturated at bench2 scale: 10^7
seen keys over 8.4M bits → fill ~0.99, FP ~0.97 at k=4 — every candidate
paid the probe UDF AND the exact anti-join.  Output is identical in every
regime (prefilter-only; the exact anti-join always backs it), so these
tests pin the SIZING LAW, and the existing equivalence suite
(tests/test_frontier_order.py) pins the output.
"""

from __future__ import annotations

import pytest

from heritrix_spark import config as C
from heritrix_spark.fixtures import gen, websim
from heritrix_spark.plans.crawl_job import CrawlJob


def _mk_job(spark, tmp_path, cfg, name="fixb"):
    spec = websim.SPECS["tiny"]
    paths = gen.write_fixture(spec, str(tmp_path / name))
    return CrawlJob(
        spark, spec, cfg,
        images=spark.read.parquet(paths["images"]),
        robots_rules=spark.read.parquet(paths["robots"]),
        host_config=spark.read.parquet(paths["host_config"]),
        work_dir=str(tmp_path / ("work_" + name)))


def test_bloom_size_law(spark, tmp_path):
    cfg = C.CrawlConfig(use_bloom_prefilter=True,
                        bloom_bits=1 << 16, bloom_max_bits=1 << 24)
    job = _mk_job(spark, tmp_path, cfg)
    # Floor: small seen sets stay at cfg.bloom_bits.
    assert job._bloom_size_for(10) == 1 << 16
    assert job._bloom_size_for(8192) == 1 << 16  # 8*8192 = 2^16 exactly
    # Growth: next pow2 of 8 bits/key.
    assert job._bloom_size_for(10_000) == 1 << 17
    assert job._bloom_size_for(100_000) == 1 << 20
    # Cap: usable while >= 4 bits/key at the cap...
    assert job._bloom_size_for((1 << 24) // 8) == 1 << 24
    assert job._bloom_size_for((1 << 24) // 4) == 1 << 24
    # ...saturated past it: None = retire the prefilter.
    assert job._bloom_size_for((1 << 24) // 4 + 1) is None


def test_bloom_activation_sizes_to_seen(spark, tmp_path):
    """Activation after a large seed ingest builds at the grown size, not
    the floor."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        use_bloom_prefilter=True,
                        bloom_min_seen=0, bloom_bits=1 << 10)
    job = _mk_job(spark, tmp_path, cfg, "fixb2")
    job.schedule_seeds(websim.seeds(websim.SPECS["tiny"]))
    assert job._bloom_bits is not None
    n = job._seen_count
    assert n > 0
    assert job._bloom_nbits == max(1 << 10,
                                   1 << (8 * n - 1).bit_length())
    assert len(job._bloom_bits) == (job._bloom_nbits + 7) // 8


def test_bloom_saturation_suspends(spark, tmp_path):
    """When even the cap would give < 4 bits/key, activation suspends the
    prefilter instead of building a saturated bitmap."""
    cfg = C.CrawlConfig(surt_prefixes=websim.scope_surt_prefixes(),
                        use_bloom_prefilter=True,
                        bloom_min_seen=0, bloom_bits=1 << 4,
                        bloom_max_bits=1 << 4)
    job = _mk_job(spark, tmp_path, cfg, "fixb3")
    job.schedule_seeds(websim.seeds(websim.SPECS["tiny"]))
    # tiny web seeds a few dozen URLs > (2^4)/4 keys → saturated at cap.
    assert job._bloom_bits is None
    assert job._bloom_suspended


def test_bad_queue_state_mode_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="queue_state_mode"):
        _mk_job(spark, tmp_path,
                C.CrawlConfig(queue_state_mode="datframe"), "fixb4")
