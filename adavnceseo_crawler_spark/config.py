"""Crawl configuration.

Mirrors the knobs of the reference's ``crawler/config/settings.py`` that have
meaning in the iterative-batch model (SURVEY.md §0 "adopted semantics"):

* ``politeness_budget``  — per-host fetches per round.  The reference enforces a
  wall-clock gap ``POLITENESS_DELAY`` between hits on a host
  (url_frontier.py:93-99, settings.py:18); in batch rounds this becomes a
  per-host token budget per round (budget = round_wall_secs / POLITENESS_DELAY).
* ``batch_size``         — global per-round dequeue cap, from the reference's
  ``URL_BATCH_SIZE`` (settings.py:58) / ``get_next_urls(batch_size)``
  (url_frontier.py:76).
* ``bloom_capacity`` — the reference's
  ``BloomFilter(max_elements=10_000_000, error_rate=0.001)`` (url_frontier.py:24);
  the error rate is ``operators.bloom.BloomParams.fpr``.
* ``max_retries``        — settings.py:35.
* ``user_agent``         — settings.py:64-66.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    # politeness / round sizing
    politeness_budget: int = 5
    batch_size: int = 1000
    max_rounds: int = 5

    # URL-seen structure
    # False => exact path (the small-scale oracle): scan url_seen and
    # semi-probe it with the broadcast candidate hashes, then broadcast-anti
    # the hits back (url_seen is SCANNED, never shuffled — it grows
    # O(total crawled) while both broadcasts stay bounded by one round's
    # candidate set).  Rounds beyond ~10^7 candidates should use the Bloom
    # filter (sharded, no broadcast at all).
    use_bloom: bool = False
    bloom_capacity: int = 10_000_000
    bloom_buckets: int = 64

    # retry policy (fetcher/crawler.py:124-126, settings.py:35)
    max_retries: int = 3

    # fetch operator: "synthetic" = equi-join vs the catalog's web table
    # (deterministic; tests/bench), "http" = real batched HTTP per partition
    # (operators/httpfetch.py — the cluster path).  http_base_rewrite swaps a
    # URL prefix on the way out/back so fixtures can serve canonical URLs.
    fetch_mode: str = "synthetic"
    http_base_rewrite: tuple[str, str] | None = None
    request_timeout: float = 30.0  # settings.py:19
    http_inflight_retries: int = 3  # in-request retries (settings.py:35)
    http_retry_delay: float = 1.0  # backoff base (crawler.py:124-126)
    # wall-clock sleep between same-host requests inside the http fetch stage
    # (settings.py:18 POLITENESS_DELAY=1.0, crawler.py:82).  The reference
    # default is 1.0s; tests/benches against the loopback fixture set a small
    # value.  Only the "http" fetch path sleeps — the synthetic join models
    # politeness purely through politeness_budget.
    politeness_delay: float = 1.0

    # persist the full ParsedPage table every round (the analytics surface
    # reads it); throughput benches may disable it — pages/crawl_log/frontier
    # state are always committed
    store_parsed: bool = True

    # merge-on-read maintenance interval for the mutable state tables
    # (url_metadata, frontier).  Every round commits O(delta) appends —
    # url_metadata gains this round's upsert rows, the frontier gains
    # adds (new links + retries) plus consumed tombstones — and readers
    # reconcile (catalog.resolve_latest / plans.round.read_frontier).
    # Every ``compact_every`` rounds plans.round.compact_state then rewrites
    # each base as its reconciled view and empties the tombstones (Iceberg's
    # MoR + periodic rewrite_data_files shape).  1 = compact every round.
    compact_every: int = 8

    # crawler-trap guard (operators/urlmine wired into the scheduler —
    # SURVEY §2 frontier-scheduling extension; reference analog is the
    # hygiene filter html_parser.py:140-155, which has no template-level
    # guard).  A (host, url-template) cell holding more than
    # trap_template_threshold frontier URLs admits at most
    # trap_admit_per_round of them per round; the rest stay in the frontier
    # (politeness-deferral semantics).  None = off (default: byte-identical
    # scheduling to rounds 1-4, sim parity preserved).
    trap_template_threshold: int | None = None
    trap_admit_per_round: int = 5

    # freshness-driven re-crawl (operators/recrawl wired into the round
    # plan — Cho & Garcia-Molina refresh ordering over the crawl_log
    # observation history).  Every recrawl_every rounds, the recrawl_top
    # already-crawled URLs with the highest (change_rate × age, then age)
    # re-enter the frontier; their priority rides the frontier ``score``
    # column and is blended into the scheduling score with weight
    # plans.round.RECRAWL_WEIGHT (the enrich stage adds score_carried ×
    # weight — zero for normal links, whose carried score is NULL).
    # None = off.
    recrawl_every: int | None = None
    recrawl_top: int = 1000

    user_agent: str = (
        "Mozilla/5.0 (compatible; CustomCrawler/1.0; +http://example.com/bot)"
    )
