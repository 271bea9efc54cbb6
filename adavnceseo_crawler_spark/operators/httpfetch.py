"""Real HTTP fetch operator (S5, the cluster path).

The sandbox fetch is an equi-join against the synthetic web (operators/
fetch.py); THIS module is the config-switched real-network slot: a
``mapInPandas`` stage that fetches each partition's scheduled URLs over HTTP,
mirroring the reference fetcher's semantics (crawler/core/fetcher/crawler.py):

* User-Agent header per session            (settings.py:64-66, crawler.py:163)
* request timeout                           (settings.py:19, crawler.py:161)
* non-200 status  -> failure record, NO in-request retry (crawler.py:52-74
  only processes status == 200; others go to the failed topic — cross-round
  requeue stays the frontier's job, exactly as in the batch engine)
* network error / timeout -> retried in-request up to MAX_RETRIES with
  backoff min(300, 2^attempt × delay)       (settings.py:35, crawler.py:124-126)
* per-server serialization + politeness gap (crawler.py:81 sleeps
  POLITENESS_DELAY between hits): a partition's URLs are grouped into LANES
  keyed by the server actually dialed (the netloc of the URL as requested,
  i.e. after any base_url_rewrite).  One thread runs each lane, issuing one
  request at a time; lanes run concurrently on a pool capped by
  MAX_CONCURRENT_REQUESTS (settings.py:34).  Two consecutive requests to the
  same logical host keep the configured delay between them.  This is
  Mercator's politeness rule (Heydon & Najork 1999): at most one outstanding
  request per server.

Scale notes: the scheduled batch is repartitioned BY HOST before the fetch
stage so one task owns a host (politeness needs no cross-task coordination —
the per-round budget already capped the per-host batch).  Without a rewrite
each host is its own server, so lanes are hosts and the hosts of a task run
concurrently.  With a rewrite (a proxy prefix, a fixture server) every host
maps onto one server, and a task holds at most ONE connection to it: a round
opens at most one connection per fetch task instead of up to 16 per task,
which overflowed a small accept queue into 1/3/7 s SYN retransmits.  Payloads
are born in the fetch task's partition and flow straight into parse — they
never shuffle, same invariant as the synthetic join path.

Uses stdlib urllib (aiohttp is not installed in this sandbox); the thread
pool gives the same per-partition concurrency shape.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from itertools import zip_longest
from typing import Iterable, Iterator
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FETCH_RESULT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("status_code", T.IntegerType(), True),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("crawl_time", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

# lane threads per fetch task (the reference's settings.py:34 cap)
MAX_CONCURRENT_REQUESTS = 16


def fetch_lanes(urls: Iterable[str], hosts: Iterable[str]) -> list[list[int]]:
    """Row indices grouped into lanes, one per server dialed.

    A host joins the lane of the netloc its first URL dials, so all of a
    host's rows share one lane in their original order.  Within a lane the
    hosts take turns (round-robin), so one host's politeness gap can be
    spent on another host's request."""
    by_netloc: dict[str, list[list[int]]] = {}
    by_host: dict[str, list[int]] = {}
    for i, (url, host) in enumerate(zip(urls, hosts)):
        queue = by_host.get(host)
        if queue is None:
            queue = by_host[host] = []
            by_netloc.setdefault(urlsplit(url).netloc, []).append(queue)
        queue.append(i)
    return [
        [i for turn in zip_longest(*queues) for i in turn if i is not None]
        for queues in by_netloc.values()
    ]


def fetch_one(
    url: str,
    user_agent: str,
    timeout: float,
    max_retries: int,
    retry_delay: float,
) -> tuple[int | None, bool, bytes | None, float, str | None]:
    """(status_code, success, body, elapsed_sec, error) for one URL.

    Exceptions retry with backoff min(300, 2^attempt × retry_delay)
    (crawler.py:124-126); a non-200 response is a terminal failure record."""
    import urllib.error
    import urllib.request

    t0 = time.monotonic()
    last_err: str | None = None
    for attempt in range(max_retries + 1):
        try:
            req = urllib.request.Request(url, headers={"User-Agent": user_agent})
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = resp.read()
                status = resp.status
                if status == 200:
                    return status, True, body, time.monotonic() - t0, None
                return status, False, None, time.monotonic() - t0, f"status_{status}"
        except urllib.error.HTTPError as e:
            # urllib raises for 4xx/5xx; reference treats a received status
            # as terminal (no in-request retry)
            return e.code, False, None, time.monotonic() - t0, f"status_{e.code}"
        except Exception as e:  # timeout / connection error -> retry
            last_err = f"{type(e).__name__}: {e}"
            if attempt < max_retries:
                time.sleep(min(300.0, (2**attempt) * retry_delay))
    return None, False, None, time.monotonic() - t0, last_err


def http_fetch_batch(
    scheduled: DataFrame,
    user_agent: str,
    timeout: float = 30.0,
    max_retries: int = 3,
    retry_delay: float = 1.0,
    politeness_delay: float = 0.0,
) -> DataFrame:
    """scheduled(url, url_hash, host, depth, ...) -> FETCH_RESULT rows via
    batched HTTP per partition: one lane per server dialed (fetch_lanes),
    lanes concurrent, one request in flight per lane, and at least
    ``politeness_delay`` between two requests to the same host.  A task thus
    holds at most one connection per server.  Output rows keep the input
    order."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            urls, hosts = pdf["url"].tolist(), pdf["host"].tolist()
            lanes = fetch_lanes(urls, hosts)
            results: list[tuple] = [None] * len(pdf)  # type: ignore[list-item]

            def run_lane(idxs: list[int]) -> None:
                last_end: dict[str, float] = {}  # host -> its last request's end
                for i in idxs:
                    host = hosts[i]
                    if politeness_delay and host in last_end:
                        wait = last_end[host] + politeness_delay - time.monotonic()
                        if wait > 0:
                            time.sleep(wait)
                    status, ok, body, elapsed, err = fetch_one(
                        urls[i], user_agent, timeout, max_retries, retry_delay
                    )
                    last_end[host] = time.monotonic()
                    results[i] = (
                        urls[i],
                        pdf["url_hash"].iat[i] if "url_hash" in pdf else None,
                        host,
                        int(pdf["depth"].iat[i]) if "depth" in pdf else None,
                        status,
                        ok,
                        body,
                        round(elapsed, 4),
                        err,
                    )

            workers = min(MAX_CONCURRENT_REQUESTS, len(lanes))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                list(pool.map(run_lane, lanes))
            yield pd.DataFrame(results, columns=[f.name for f in FETCH_RESULT.fields])

    cols = [c for c in ("url", "url_hash", "host", "depth") if c in scheduled.columns]
    return (
        scheduled.select(*cols)
        .repartition(F.col("host"))
        .mapInPandas(run, schema=FETCH_RESULT)
    )


def fetch_batch_http(
    scheduled: DataFrame,
    user_agent: str,
    base_url_rewrite: tuple[str, str] | None = None,
    timeout: float = 30.0,
    max_retries: int = 3,
    retry_delay: float = 1.0,
    politeness_delay: float = 0.0,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The http counterpart of fetch.fetch_batch: returns (hits, misses,
    raw), the hits with fetch_batch's columns, so the crawl round's parse
    is oblivious to which fetch operator ran; the misses keep the full
    scheduled row (the round's retries need it).  ``base_url_rewrite=(prefix,
    replacement)`` swaps a PLAIN URL PREFIX both ways, letting tests point
    canonical URLs at a local fixture server (e.g. "https://" ->
    "http://127.0.0.1:PORT/").

    The network stage runs EXACTLY ONCE: the mapInPandas result is persisted
    and materialized here before hits/misses are split off it.  Live HTTP is
    nondeterministic, so re-executing the fetch plan per downstream action
    (pages append, crawl_log append, frontier retry) could put a URL in both
    ok and misses or in neither — the caller must ``raw.unpersist()`` after
    its commits land.

    Real HTTP has no WARC capture timestamp or source-lang column — both are
    NULL (parse stamps ts from warc_ts only when present)."""

    def _swap_prefix(col, old: str, new: str):
        return F.when(
            col.startswith(old),
            F.concat(F.lit(new), F.substring(col, len(old) + 1, 1 << 30)),
        ).otherwise(col)

    to_fetch = scheduled
    if base_url_rewrite is not None:
        find, repl = base_url_rewrite
        to_fetch = scheduled.withColumn(
            "url", _swap_prefix(F.col("url"), find, repl)
        )
    res = http_fetch_batch(
        to_fetch,
        user_agent,
        timeout=timeout,
        max_retries=max_retries,
        retry_delay=retry_delay,
        politeness_delay=politeness_delay,
    )
    if base_url_rewrite is not None:
        # undo the rewrite so downstream tables carry the canonical url
        find, repl = base_url_rewrite
        res = res.withColumn("url", _swap_prefix(F.col("url"), repl, find))
    # materialize the network stage ONCE — every downstream plan reads the
    # cached result, never re-issues requests
    res = res.persist()
    res.count()
    ok = (
        res.filter(F.col("success"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("src_lang", F.lit(None).cast("string"))
        .select(
            "url", "html", "warc_ts", "src_lang", "url_hash", "host", "depth",
            "success", "status_code", "crawl_time",
        )
    )
    # misses keep the full scheduled row (frontier retry needs discovered_ts/
    # seq/retries), re-joined on url — urls only, no payloads
    fails = res.filter(~F.col("success")).select(
        "url", F.col("status_code").alias("_status"), F.col("error").alias("_err")
    )
    misses = (
        scheduled.join(fails, "url", "inner")
        .withColumn("success", F.lit(False))
        .withColumn("status_code", F.coalesce(F.col("_status"), F.lit(None).cast("int")))
        .withColumn("crawl_time", F.lit(None).cast("double"))
        .drop("_status", "_err")
    )
    return ok, misses, res
