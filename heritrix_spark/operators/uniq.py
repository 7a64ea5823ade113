"""URL-seen filter — the exact ``distinct`` operator (UriUniqFilter family).

Heritrix parity (class anchors): ``org/archive/crawler/datamodel/
UriUniqFilter.java`` (add/note/forget/count contract),
``crawler/util/BdbUriUniqFilter.java`` (exact fingerprint set; createKey
packs an authority hash in the top bits for B-tree locality — here the
locality trick becomes hash partitioning on ``url_fp``),
``BloomUriUniqFilter.java`` (probabilistic prefilter; its false positives
silently drop URLs, which the north_rule forbids — so the bloom here is a
*prefilter only*, always backed by the exact anti-join),
``MemUriUniqFilter`` / ``FPMergeUriUniqFilter`` (intra-batch dedup ≙
``dropDuplicates`` / first-arrival window).

API is set-at-a-time: a ``SeenFilter`` holds the seen DataFrame and exposes
``add_batch`` (returns the previously-unseen survivors, updates the set),
``note_batch`` (mark seen without emitting — journal replay semantics),
``forget`` and ``count``.  The engine's candidate pipeline inlines the same
anti-join; this module is the standalone, reference-test-mirroring surface
(tests/test_uniq.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from heritrix_spark.functions.fingerprint import hash_str_py, url_fp_expr
from heritrix_spark.session import local_frame

BLOOM_K = 4


def bloom_positions_expr(fp, m: int) -> list:
    """k bit positions per fingerprint — JVM-side exprs; the Python mirror
    is :func:`bloom_positions_py` (same xxhash64 derivation)."""
    return [F.pmod(F.xxhash64(F.concat_ws(
        ":", F.lit(str(i)), fp.cast("string"))), F.lit(m))
        for i in range(BLOOM_K)]


def bloom_positions_py(fp: int, m: int) -> list[int]:
    return [hash_str_py(str(i), str(int(fp))) % m for i in range(BLOOM_K)]


def build_bloom_packed(df: DataFrame, fp_col: str, m: int,
                       fold_partitions: int | None = None) -> np.ndarray:
    """Build the m-bit bloom bitmap executor-side, returned PACKED
    (``m/8`` uint8 bytes, big-endian bit order): positions are computed by
    JVM exprs, each Arrow partition folds into a local numpy bitmap, and
    the driver collects one packed blob per partition and ORs them — never
    the raw position rows.  ``fold_partitions`` caps the number of blobs
    collected (used for small per-step deltas, where 8 blobs beat 32);
    driver traffic is O(m × partitions), independent of row count — the
    property that keeps per-step maintenance flat at 100× discovery rates.
    """
    pos = df.select(F.explode(F.array(
        *bloom_positions_expr(F.col(fp_col), m))).alias("p"))
    if fold_partitions is not None:
        pos = pos.coalesce(fold_partitions)

    def to_bitmap(batches):
        bits = np.zeros(m, dtype=bool)
        seen_any = False
        for pdf in batches:
            if len(pdf):
                seen_any = True
                bits[pdf["p"].to_numpy(dtype=np.int64)] = True
        if seen_any:
            yield pd.DataFrame({"b": [np.packbits(bits).tobytes()]})

    packed = np.zeros((m + 7) // 8, dtype=np.uint8)
    for r in pos.mapInPandas(to_bitmap, "b binary").collect():
        packed |= np.frombuffer(r["b"], dtype=np.uint8)
    return packed


def build_bloom_bits(df: DataFrame, fp_col: str, m: int) -> np.ndarray:
    """Unpacked-bool variant of :func:`build_bloom_packed` (SeenFilter's
    cached form)."""
    return np.unpackbits(build_bloom_packed(df, fp_col, m))[:m].astype(bool)


def bloom_set_packed_py(packed: np.ndarray, fp: int) -> None:
    """Set one fingerprint's k bits in a PACKED bitmap (driver-side mirror
    hashing — for O(#new-queues) prerequisite notes only; bulk deltas fold
    executor-side via :func:`build_bloom_packed`)."""
    for p in bloom_positions_py(fp, len(packed) * 8):
        packed[p >> 3] |= 128 >> (p & 7)


def make_might_contain_packed_udf(spark, packed: np.ndarray):
    """Vectorized bloom probe over a PACKED bitmap: positions arrive as
    JVM-computed columns; the UDF masks bits with numpy fancy-indexing —
    the broadcast payload is m/8 bytes (8x smaller than the bool form)."""
    b = spark.sparkContext.broadcast(packed)

    @F.pandas_udf(T.BooleanType())
    def might_contain(*pos_cols: pd.Series) -> pd.Series:
        blm = b.value
        out = np.ones(len(pos_cols[0]), dtype=bool)
        for pc in pos_cols:
            p = pc.to_numpy(dtype=np.int64)
            out &= (blm[p >> 3] & (128 >> (p & 7)).astype(np.uint8)) != 0
        return pd.Series(out)

    return might_contain


def make_might_contain_udf(spark, bits: np.ndarray):
    """Vectorized bloom probe: positions arrive as JVM-computed columns;
    the UDF is pure numpy fancy-indexing over the broadcast bitmap."""
    b = spark.sparkContext.broadcast(bits)

    @F.pandas_udf(T.BooleanType())
    def might_contain(*pos_cols: pd.Series) -> pd.Series:
        blm = b.value
        out = np.ones(len(pos_cols[0]), dtype=bool)
        for pc in pos_cols:
            out &= blm[pc.to_numpy(dtype=np.int64)]
        return pd.Series(out)

    return might_contain


def with_fp(df: DataFrame, canon_col: str = "canon_url") -> DataFrame:
    return df.withColumn("url_fp", url_fp_expr(F.col(canon_col)))


def dedup_first_arrival(df: DataFrame, order_cols: list[str],
                        canon_col: str = "canon_url") -> DataFrame:
    """Intra-batch dedup keeping the first arrival (MemUriUniqFilter)."""
    w = Window.partitionBy(canon_col).orderBy(*order_cols)
    return (df.withColumn("_dup", F.row_number().over(w))
            .where(F.col("_dup") == 1).drop("_dup"))


class SeenFilter:
    """Exact URL-seen set with optional bloom prefilter.

    The bloom path (``use_bloom=True``) builds a driver-side bloom filter
    over the seen fingerprints and applies it as a cheap prefilter *before*
    the exact anti-join — candidates failing the bloom are definitely
    unseen and skip the join; candidates passing it are verified exactly.
    Net effect: identical output to the exact set (never inherits bloom
    false-positive drops), less anti-join input.  Spark's AQE runtime
    bloom-filter join (enabled in session.py) does the same thing
    adaptively; this explicit variant exists for parity with
    BloomUriUniqFilter and for clusters without AQE.
    """

    def __init__(self, spark, seen: DataFrame | None = None,
                 use_bloom: bool = False,
                 bloom_expected: int = 1_000_000, bloom_fpp: float = 0.03):
        self.spark = spark
        self.seen = seen if seen is not None else local_frame(
            spark, [], "url_fp long, canon_url string")
        self.use_bloom = use_bloom
        self.bloom_expected = bloom_expected
        self.bloom_fpp = bloom_fpp
        self._bits: np.ndarray | None = None  # cached bloom bitmap

    def count(self) -> int:
        return self.seen.count()

    def _bloom_m(self) -> int:
        n = max(self.bloom_expected, 1024)
        return max(1 << math.ceil(math.log2(
            -n * math.log(self.bloom_fpp) / (math.log(2) ** 2))), 1024)

    def _split_by_bloom(self, batch: DataFrame):
        """(maybe_seen, definitely_new) according to the bloom prefilter.

        The bitmap is built executor-side (``build_bloom_bits``: Arrow
        batches fold to packed bytes, the driver ORs one blob per
        partition) and cached across calls; batches of newly-seen
        fingerprints extend it incrementally via the bit-exact Python
        xxhash64 mirror.  The probe's bit positions are computed by the
        SAME JVM exprs as the build and checked with numpy
        fancy-indexing — no per-row Python anywhere.
        """
        m = self._bloom_m()
        if self._bits is None:
            self._bits = build_bloom_bits(self.seen, "url_fp", m)
        udf = make_might_contain_udf(self.spark, self._bits)
        flagged = batch.withColumn(
            "_maybe", udf(*bloom_positions_expr(F.col("url_fp"), m)))
        return (flagged.where(F.col("_maybe")).drop("_maybe"),
                flagged.where(~F.col("_maybe")).drop("_maybe"))

    def note_fps(self, fps) -> None:
        """Extend the cached bloom bitmap with newly-seen fingerprints
        (driver-side mirror hashing — intended for small per-step deltas;
        the executor-side build handles bulk)."""
        if self._bits is None:
            return
        m = len(self._bits)
        for fp in fps:
            self._bits[bloom_positions_py(int(fp), m)] = True

    def filter_unseen(self, batch: DataFrame,
                      canon_col: str = "canon_url") -> DataFrame:
        """Rows of ``batch`` whose canonical URL is not in the seen set."""
        if self.use_bloom and self.count() > 0:
            maybe, new = self._split_by_bloom(batch)
            verified = maybe.join(self.seen.select(canon_col),
                                  canon_col, "left_anti")
            return new.unionByName(verified)
        return batch.join(self.seen.select(canon_col), canon_col, "left_anti")

    def _note_seen(self, fresh: DataFrame, canon_col: str) -> None:
        self.seen = self.seen.unionByName(
            fresh.select("url_fp", canon_col)).localCheckpoint()
        if self.use_bloom and self._bits is not None:
            self.note_fps(
                r["url_fp"] for r in fresh.select("url_fp").collect())

    def add_batch(self, batch: DataFrame,
                  canon_col: str = "canon_url") -> DataFrame:
        """UriUniqFilter.add — emit unseen survivors and mark them seen."""
        fresh = self.filter_unseen(batch, canon_col).localCheckpoint()
        self._note_seen(fresh, canon_col)
        return fresh

    def note_batch(self, batch: DataFrame,
                   canon_col: str = "canon_url") -> None:
        """UriUniqFilter.note — mark seen without emitting (replay)."""
        fresh = self.filter_unseen(batch, canon_col).localCheckpoint()
        self._note_seen(fresh, canon_col)

    def forget(self, canon_urls: list[str]) -> None:
        """UriUniqFilter.forget.  The bloom bitmap is left as-is: a stale
        bit only routes the fingerprint through the exact anti-join, which
        no longer contains it — prefilter staleness is always safe."""
        gone = local_frame(self.spark, [(u,) for u in canon_urls],
                           "canon_url string")
        self.seen = self.seen.join(gone, "canon_url",
                                   "left_anti").localCheckpoint()
