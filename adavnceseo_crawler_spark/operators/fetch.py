"""Fetch (S5/J6): scheduled URLs → page content.

Sandbox semantics: "the web" is the synthetic Iceberg-style ``pages`` table and
a fetch is an equi-join of the scheduled batch against it (SURVEY.md §2.1 S5).
On a real cluster the same slot is a ``mapInPandas`` stage doing batched HTTP
per partition (aiohttp per the reference, fetcher/crawler.py:160-183) — the
join keeps everything else identical and deterministic for tests.

Hot-host skew on the join key is handled by AQE skew-join splitting
(spark.sql.adaptive.skewJoin.enabled) and by the politeness budget, which caps
per-host batch size before the join.

``crawl_time`` is a deterministic stand-in for wall-clock fetch latency
(reference records real elapsed seconds): derived JVM-side from the first 8
hex chars of sha256(url) — see synth.crawl_time_of for the mirror formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# a scheduled batch of more rows than this is not broadcast (fetch_batch)
BROADCAST_THRESHOLD = 10_000_000


def crawl_time_col(url_hash) -> "F.Column":
    """0.1 + (int(sha256(url)[:8], 16) % 900) / 1000 — matches synth.crawl_time_of."""
    return (
        F.lit(0.1)
        + F.pmod(F.conv(F.substring(url_hash, 1, 8), 16, 10).cast("long"), F.lit(900))
        / F.lit(1000.0)
    )


def fetch_batch(
    scheduled: DataFrame, web: DataFrame, n_scheduled: int | None = None
) -> DataFrame:
    """The hits of the scheduled batch against the web (the caller derives
    the misses from its parse output).

    The page payloads (html) must NEVER shuffle — at 100 TB that is the whole
    dataset moving.  So the hit path is an INNER hash join with the small
    scheduled batch broadcast as the build side: the web scan is probed in
    place and parse inherits the scan's partitioning.

    The broadcast build is driver-serial fixed cost (measured 4-8 s/round at
    ~3·10^5-row batches), so it is kept MINIMAL: only (url, depth) ship —
    url_hash and host are pure deterministic functions of the canonical url
    (the frontier computed them exactly this way) and are recomputed JVM-side
    on the hit rows, roughly halving the broadcast bytes.  When the caller
    knows the batch exceeds BROADCAST_THRESHOLD rows the hint is dropped
    and AQE picks the strategy at runtime from real sizes (north_rule: at
    10^7-URL rounds a forced driver collect of the batch is the wrong plan)."""
    from ..functions.urls import host_col, url_hash

    slim = scheduled.select("url", "depth")
    build = (
        F.broadcast(slim)
        if n_scheduled is None or n_scheduled <= BROADCAST_THRESHOLD
        else slim
    )
    return (
        web.select("url", "html", "warc_ts", F.col("lang").alias("src_lang"))
        .join(build, "url", "inner")
        .withColumn("url_hash", url_hash(F.col("url")))
        .withColumn("host", host_col(F.col("url")))
        .withColumn("success", F.lit(True))
        .withColumn("status_code", F.lit(200))
        .withColumn("crawl_time", crawl_time_col(F.col("url_hash")))
    )
