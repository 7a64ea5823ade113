"""Pluggable fetcher seam — FetchHTTP T2
([H: org/archive/crawler/fetcher/FetchHTTP.java]).

The crawl engine's "fetch" is two-phase, and both phases are behind this
seam:

1. **Status verdict** on the bounded burst (hit / 404 / transient-retry).
   The sandbox-normative implementation is the image-corpus existence
   probe (``CrawlJob.__init__``: broadcast join / sorted-id Arrow array /
   bucketed storage-partitioned join, selected by the image count against
   ``IMAGE_PROBE_ARRAY_ABOVE`` / ``IMAGE_PROBE_BUCKETED_ABOVE``) plus the
   deterministic virtual latency/payload lattices in :mod:`config`.
2. **Payload attachment** at checkpoint time (the ``fetched`` sink joins
   bytes by ``image_id`` — deferred so per-step jobs never move payload
   bytes; see ``CrawlJob.checkpoint``).

A real-network deployment swaps both for :class:`HttpFetcher`: the
burst's URL strings map through an Arrow-batched HTTP pool
(``mapInPandas`` — one connection pool per executor task, bytes never
touch the driver), and the payload IS the response body.  The engine
contract is :data:`FETCH_RESULT_SCHEMA`; any fetcher that returns it can
feed the ``fetched`` sink and the status law.

This container has no network, so ``HttpFetcher``'s default transport
raises ``NotImplementedError`` at the socket boundary; everything
Spark-side — schema, batching, partitioning, error mapping — is real and
tested with an injected deterministic transport
(``tests/test_fetch_seam.py``).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One row per attempted URI — the engine-facing contract.  ``status_code``
# uses HTTP semantics (-1 = transport error, mapped to the engine's
# S_RETRY/S_FAILED law by the caller); ``payload`` is the raw body.
FETCH_RESULT_SCHEMA = T.StructType([
    T.StructField("url_fp", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("status_code", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("elapsed_ms", T.LongType()),
])

# transport(url) -> (status_code, content_type, body_bytes, elapsed_ms)
Transport = Callable[[str], tuple]


def _no_network_transport(url: str) -> tuple:
    raise NotImplementedError(
        "real HTTP fetch requires network access; this container has "
        "none — inject a transport (HttpFetcher(transport=...)) or use "
        "the sandbox-normative corpus fetcher")


class SimulatedCorpusFetcher:
    """The sandbox-normative fetcher: existence against an image corpus,
    payload from the corpus ``bytes`` column.  Thin, documented adapter
    over the exact joins ``CrawlJob`` performs (init probe + checkpoint
    payload join), so the seam is explicit without re-routing the
    optimized superstep."""

    def __init__(self, images: DataFrame):
        self.images = images

    def attach_payload(self, fetched: DataFrame) -> DataFrame:
        """Checkpoint-time payload join (CrawlJob.checkpoint, fetched
        sink): one image_id-keyed join, payload bytes move exactly once."""
        return fetched.join(self.images, "image_id", "left")


class HttpFetcher:
    """Real-network fetcher: Arrow-batched HTTP over ``mapInPandas``.

    Each Spark task runs one worker over its partition's pandas batches —
    on a cluster that is ``#cores`` concurrent connection pools, and the
    response bodies stay executor-side (the ``fetched`` sink writes them
    straight to parquet).  Politeness is ALREADY enforced upstream by the
    frontier law (one in-flight URI per queue per virtual window), so the
    fetcher itself needs no per-host throttling — mirroring Heritrix,
    where FetchHTTP trusts the frontier's politeness.
    """

    def __init__(self, transport: Transport | None = None,
                 timeout_ms: int = 30_000):
        self.transport = transport or _no_network_transport
        self.timeout_ms = timeout_ms

    def fetch(self, burst: DataFrame) -> DataFrame:
        """``burst`` must carry ``url_fp`` + ``url``; returns
        :data:`FETCH_RESULT_SCHEMA` with one row per input row."""
        transport = self.transport

        def run_batches(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = {"url_fp": pdf["url_fp"], "url": pdf["url"],
                       "status_code": [], "content_type": [],
                       "payload": [], "elapsed_ms": []}
                for url in pdf["url"]:
                    try:
                        code, ctype, body, ms = transport(url)
                    except NotImplementedError:
                        raise
                    except Exception:  # transport error → retryable
                        code, ctype, body, ms = -1, None, None, 0
                    out["status_code"].append(code)
                    out["content_type"].append(ctype)
                    out["payload"].append(body)
                    out["elapsed_ms"].append(ms)
                yield pd.DataFrame(out)

        return burst.select("url_fp", "url").mapInPandas(
            run_batches, FETCH_RESULT_SCHEMA)


def status_of_code(code_col):
    """Map transport status codes onto the engine's disposition statuses
    (AbstractFrontier's needsRetrying/succeeded split): 2xx → S_OK,
    -1/5xx → S_RETRY (transient), everything else → S_NOT_FOUND."""
    from heritrix_spark import config as C
    return (F.when((code_col >= 200) & (code_col < 300), F.lit(C.S_OK))
            .when((code_col == -1) | (code_col >= 500), F.lit(C.S_RETRY))
            .otherwise(F.lit(C.S_NOT_FOUND)))
