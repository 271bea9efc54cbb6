"""One crawl round — a deterministic BSP superstep (SURVEY.md §3.1).

Replaces the reference's continuous asyncio loop (fetcher/crawler.py:169-203)
with a batch dataflow per round:

  frontier ── enrich (url_metadata ⟕, broadcast domain_stats ⟕)
           ── score (U9 column exprs)
           ── robots filter (broadcast ⋈ + longest-prefix match)
           ── politeness per-host top-k (salted) + global top-batch
           ── fetch (equi-join vs the web table)
           ── parse (mapInPandas ParsedPage extraction)
           ── appends: pages / parsed / crawl_log / url_seen / round_metrics
           ── link discovery → canonicalize → hygiene filter → dedup
           ── frontier maintenance, merge-on-read: append adds (new links ∪
              retries) + consumed tombstones; every cfg.compact_every rounds
              compact_state then rewrites the base as the live view

Every ordering carries the total tie-break (score desc, url asc); the round
clock is a deterministic function of the round number — no wall-clock inside
the dataflow, so a resumed run reproduces identical downstream state.
"""

from __future__ import annotations

import datetime as _dt
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..catalog import SnapshotCatalog, resolve_latest
from ..config import CrawlConfig
from ..functions import scoring
from ..functions.htmlparse import parse_pages
from ..functions.textstats import quality_score_col
from ..functions.urls import (
    canonicalize_url_udf,
    host_col,
    link_keep_predicate,
    path_depth,
    url_hash,
)
from ..operators import bloom as bloomops
from ..operators.fetch import fetch_batch
from ..operators.politeness import schedule_batch_counted
from ..operators.robotsops import apply_robots

ROUND_EPOCH = _dt.datetime(2025, 6, 1, 0, 0, 0)

# read-side tombstone anti-join: broadcast the consumed set only while it is
# genuinely small (≤ this many rows, as the frontier_consumed manifest
# records), else take the shuffle join.  The broadcast build is driver-serial
# — measured ~10 s flat at 1.5M tombstones REGARDLESS of core count
# (BENCH/BASELINE.md round-3 decomposition), exactly the kind of fixed cost
# the scaling criterion punishes — while the shuffle path distributes; and
# at web scale consumed grows to compact_every × round-batch and could never
# be broadcast anyway
CONSUMED_BROADCAST_ROWS = 100_000
# weight of a re-enqueued row's carried Cho–G-M priority in the scheduling
# score (cfg.recrawl_every; the enrich stage adds score_carried × weight)
RECRAWL_WEIGHT = 1.0


def round_ts(round_no: int) -> _dt.datetime:
    """Deterministic round clock (wall-clock is banned inside rounds)."""
    return ROUND_EPOCH + _dt.timedelta(hours=round_no)


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def read_frontier(cat: SnapshotCatalog) -> DataFrame | None:
    """Resolved (live) frontier view under merge-on-read maintenance.

    The committed ``frontier`` table is append-mostly: normal rounds append
    only adds (new links + retries) while dequeued/blocked entries are
    tombstoned by (url_hash, enqueue-round) appends to ``frontier_consumed``;
    the live frontier is ``base ⟕̸ consumed``.  Every cfg.compact_every
    rounds compact_state rewrites the base as this view and empties the
    tombstones, so the join's right side is bounded by compact_every ×
    round-batch.

    The tombstones are grouped to ONE row per url_hash (collect_set of the
    tombstoned enqueue-rounds) and joined on url_hash ALONE with an
    array_contains filter — semantically the (url_hash, round) anti-join,
    but partitioned on the same single key as the url_metadata enrich join
    that immediately follows, so Catalyst reuses the exchange and the
    frontier base shuffles ONCE (a compound-key anti-join partitions on both
    keys and forced a second full shuffle of the base — measured +40 s/round
    at the 4-core 4M-page scaling shape).  While the tombstone count the
    catalog records is small the grouped set is broadcast (no shuffle of the
    base at all); past CONSUMED_BROADCAST_ROWS, or when the manifest does not
    record it, it falls back to the shuffle join — at web scale the
    tombstone set cannot be broadcast.  Columns are in schemas.FRONTIER
    order either way."""
    base = cat.read("frontier")
    cons = cat.read("frontier_consumed")
    n_cons = cat.records("frontier_consumed")
    if base is None or cons is None or n_cons == 0:
        return base
    cons_sets = (
        cons.groupBy("url_hash").agg(F.collect_set("round").alias("_crounds"))
    )
    if n_cons is not None and n_cons <= CONSUMED_BROADCAST_ROWS:
        cons_sets = F.broadcast(cons_sets)
    return (
        base.join(cons_sets, "url_hash", "left")
        .filter(
            F.col("_crounds").isNull()
            | ~F.array_contains(F.col("_crounds"), F.col("round"))
        )
        .select([f.name for f in schemas.FRONTIER.fields])
    )


def recrawl_rows_for(
    cat: SnapshotCatalog,
    cfg: CrawlConfig,
    now: _dt.datetime,
    next_round: int,
    exclude: tuple = (),
) -> DataFrame | None:
    """Frontier rows for the Cho–Garcia-Molina freshness re-enqueue: the
    cfg.recrawl_top crawled URLs with the highest (change_rate × age, then
    age) over the crawl_log observation history, their priority carried in
    the ``score`` column (blended into the scheduling score by run_round's
    enrich stage).  ``exclude`` DataFrames (url_hash column) keep URLs that
    are already pending, or were fetched in the still-uncommitted current
    round, from re-entering.  Returns None when no history exists.

    Scale: one history scan + one url_hash-keyed shuffle per trigger
    (amortized by cfg.recrawl_every); the top-k cut is a TakeOrdered and
    the exclusion probes broadcast sets bounded by recrawl_top / one
    round's batch."""
    hist = cat.read("crawl_log")
    if hist is None:
        return None
    from ..operators.recrawl import change_rate_priority

    pr = change_rate_priority(
        hist.filter(F.col("success")),
        id_col="url_hash",
        ts_col="fetched_ts",
        value_col="content_length",
        order_col="round",
        now_ts=now,
    )
    cand = pr.orderBy(
        F.desc("priority"), F.desc("age_days"), F.asc("url_hash")
    ).limit(cfg.recrawl_top)
    for ex in exclude:
        # ADVICE r5: broadcast the SMALL side.  ``ex`` can be the entire
        # live frontier (run_round passes exclude=(frontier, scheduled)),
        # and a broadcast hint never falls back by size — collecting a
        # multi-million-row frontier to the driver is an OOM.  ``cand`` is
        # bounded by recrawl_top, so semi-probe the exclude scan with the
        # broadcast candidate hashes (ex is scanned, never shuffled), then
        # anti-join the bounded hit set back — the same probe pattern as
        # round.py's dedup stage.
        hits = ex.select("url_hash").join(
            F.broadcast(cand.select("url_hash")), "url_hash", "left_semi"
        )
        cand = cand.join(F.broadcast(hits), "url_hash", "left_anti")
    latest = hist.groupBy("url_hash").agg(
        F.max_by("url", "round").alias("url"),
        F.max_by("host", "round").alias("host"),
    )
    return cand.join(latest, "url_hash").select(
        F.lit(next_round).alias("round"),
        "url",
        "url_hash",
        "host",
        F.lit(0).alias("depth"),
        F.col("priority").cast("double").alias("score"),
        F.lit(now).alias("discovered_ts"),
        F.lit(next_round).cast("long").alias("seq"),
        F.lit(0).alias("retries"),
    )


def compact_state(cat: SnapshotCatalog, round_no: int) -> dict[str, float]:
    """Merge-on-read compaction after round ``round_no``'s commit group (the
    Iceberg ``rewrite_data_files`` shape): the ``frontier`` base is
    rewritten as its live view (read_frontier, ``round`` restamped to
    ``round_no + 1``), ``url_metadata`` as its latest row per key, and the
    tombstones are then emptied by a manifest-only snapshot (no write job).
    Returns the rewrites' data-write walls, keyed ``compact.<table>``."""
    live = read_frontier(cat).withColumn("round", F.lit(round_no + 1))
    latest = resolve_latest(cat.read("url_metadata"), "url_hash", "last_crawled")
    walls = cat.commit_many([
        ("url_metadata", latest, "overwrite", {"round": round_no}),
        ("frontier", live, "overwrite", {"round": round_no + 1}),
    ])
    cat.commit_manifest_only("frontier_consumed", {"round": round_no + 1})
    return {f"compact.{t}": w for t, w in walls.items()}


def run_round(
    spark: SparkSession,
    cat: SnapshotCatalog,
    cfg: CrawlConfig,
    round_no: int,
    on_barrier=None,
) -> dict:
    t0 = time.monotonic()
    now = round_ts(round_no)
    times: dict[str, float] = {}
    _last = [t0]

    def tick(label: str) -> None:
        t = time.monotonic()
        times[label] = round(times.get(label, 0.0) + (t - _last[0]), 3)
        _last[0] = t

    frontier = read_frontier(cat)
    if frontier is None:
        return {"round": round_no, "scheduled": 0, "fetched": 0, "done": True}
    frontier = frontier.cache()
    # the live row count is read from the manifests: every tombstone
    # consumes exactly one live frontier row.  A standalone count() job here
    # is pure per-round fixed cost that does not shrink with cores; it runs
    # only when a manifest does not record its count
    n_front, n_cons = cat.records("frontier"), cat.records("frontier_consumed")
    if n_front is None or n_cons is None:
        urls_in = frontier.count()
    else:
        urls_in = n_front - n_cons
    if urls_in == 0:
        frontier.unpersist()
        return {"round": round_no, "scheduled": 0, "fetched": 0, "done": True}

    meta = cat.read("url_metadata")
    dstats = cat.read("domain_stats")
    robots = cat.read("robots") or _empty(spark, schemas.ROBOTS)
    web = cat.read("web") if cfg.fetch_mode == "synthetic" else None

    # ---- enrich + score (J3, J4, U9) ----------------------------------------
    # url_metadata is maintained merge-on-read: a compacted base plus ≤
    # compact_every per-round delta appends.  The enrich path needs only the
    # freshest last_crawled per key, so the reader-side reconcile is a
    # map-side-combinable max aggregate — and because the aggregate's output
    # partitioning (url_hash) is exactly the join key, Catalyst reuses the
    # exchange: same single shuffle of the metadata as the compacted-table
    # join had.  Cost stays O(|distinct urls|), never a growing-history
    # rescan (bounded by base + compact_every deltas).
    # bootstrap fast path: on the very first round url_metadata/domain_stats
    # are still absent (read returned None, no row-count job) — joining an
    # EMPTY table still plans a full aggregate + exchange of the frontier
    # side, so substitute the joins' null columns directly
    if meta is None:
        cand = frontier.withColumn(
            "last_crawled", F.lit(None).cast("timestamp")
        )
    else:
        meta_latest = (
            meta.select("url_hash", "last_crawled")
            .groupBy("url_hash")
            .agg(F.max("last_crawled").alias("last_crawled"))
        )
        cand = frontier.join(meta_latest, "url_hash", "left")
    if dstats is None:
        for _c, _t in (
            ("domain_score", "double"), ("success_count", "long"),
            ("total_count", "long"), ("avg_crawl_time", "double"),
            ("avg_content_length", "double"),
        ):
            cand = cand.withColumn(_c, F.lit(None).cast(_t))
    else:
        cand = cand.join(
            F.broadcast(
                dstats.select(
                    "host",
                    "domain_score",
                    "success_count",
                    "total_count",
                    "avg_crawl_time",
                    "avg_content_length",
                )
            ),
            "host",
            "left",
        )
    score_expr = scoring.final_score(
        F.col("path"),
        F.col("path_depth"),
        F.col("domain_score"),
        F.col("last_crawled"),
        F.lit(now),
        F.col("avg_content_length"),
        F.col("success_count"),
        F.col("total_count"),
        F.col("avg_crawl_time"),
    )
    if cfg.recrawl_every:
        # re-enqueued rows carry their Cho–G-M refresh priority in the
        # frontier ``score`` column (see the recrawl block below); blend it
        # into the scheduling score.  Normal links carry NULL → +0, and with
        # the feature off the expression is byte-identical to rounds 1-4
        # (sim parity).
        score_expr = score_expr + F.lit(RECRAWL_WEIGHT) * F.coalesce(
            F.col("score"), F.lit(0.0)
        )
    cand = (
        cand
        .withColumn("path", F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("/")))
        # NB: damping depth is PATH-segment depth (prioritizer.py:92), not the
        # crawl-hop depth the frontier tracks.
        .withColumn("path_depth", path_depth(F.col("path")))
        .withColumn("score", score_expr)
    )

    # ---- robots (F5) ----------------------------------------------------------
    cand = apply_robots(cand, robots).cache()
    blocked = cand.filter(~F.col("robots_allowed"))
    allowed = cand.filter(F.col("robots_allowed"))

    # ---- politeness + priority dequeue (F4/W1) --------------------------------
    # counted variant: materializes + counts the eligible cache (needed below
    # anyway, and the cache keeps the fetch broadcast from recomputing the
    # politeness window chain) and skips the single-partition global sort
    # whenever the batch cap cannot bind.  Un-dequeued rows get no tombstone:
    # they stay in the frontier as they are
    scheduled, n_scheduled, _sched_caches = schedule_batch_counted(
        allowed, cfg.politeness_budget, cfg.batch_size,
        trap_threshold=cfg.trap_template_threshold,
        trap_cap=cfg.trap_admit_per_round,
    )
    tick("schedule")

    # ---- fetch (S5/J6) ---------------------------------------------------------
    # synthetic: hits = web ⋈ broadcast(scheduled): html never shuffles, parse
    # inherits the web scan's partitioning (fetch.py docstring).
    # http: batched real HTTP, one lane per server dialed in each fetch task
    # (operators/httpfetch.py) — payloads are born in the fetch task and flow
    # straight into parse.
    raw_fetch = None
    if cfg.fetch_mode == "http":
        from ..operators.httpfetch import fetch_batch_http

        ok, failed, raw_fetch = fetch_batch_http(
            scheduled,
            cfg.user_agent,
            base_url_rewrite=cfg.http_base_rewrite,
            timeout=cfg.request_timeout,
            max_retries=cfg.http_inflight_retries,
            retry_delay=cfg.http_retry_delay,
            politeness_delay=cfg.politeness_delay,
        )
    else:
        ok = fetch_batch(scheduled, web, n_scheduled=n_scheduled)
        failed = None  # derived below from the CACHED parse result

    # ---- parse (U1) + quality (A8) ----------------------------------------------
    # passthrough columns ride along through mapInPandas so pages/log/links
    # are derived by PROJECTION from one cached result — no downstream join
    # ever touches the html payload again
    parsed = parse_pages(
        ok,
        passthrough=[
            "html", "src_lang", "url_hash", "host", "status_code",
            "crawl_time", "depth", "warc_ts",
        ],
    ).cache()
    if failed is None:
        # synthetic-fetch misses = scheduled \ (scheduled ∩ web) — derived as
        # an anti-join against the CACHED parse output instead of a second
        # full web-url scan per round (the anti-join vs web was measured as a
        # per-round fixed-cost job; parsed is already materialized for
        # metrics, so this plan touches only cached rows)
        failed = (
            scheduled.join(parsed.select("url"), "url", "left_anti")
            .withColumn("success", F.lit(False))
            .withColumn("status_code", F.lit(404))
            .withColumn("crawl_time", F.lit(None).cast("double"))
        )
    enriched = parsed.withColumn(
        "content_length", F.length("text").cast("long")
    ).withColumn(
        "quality_score",
        quality_score_col(
            F.col("text"),
            F.coalesce(F.size(F.element_at("headers", "h1")), F.lit(0)) > 0,
            F.col("description"),
            F.col("keywords"),
        ),
    )


    # ---- pages append (S7 replacement: engine-extracted text) --------------------
    pages_out = enriched.select(
        "url", "warc_ts", "html", "text", F.col("src_lang").alias("lang")
    )

    # ---- link discovery (U1 links → F7/F8/F6 → J1 dedup) --------------------------
    links = (
        enriched.select("depth", F.explode("links").alias("href"))
        .withColumn("link", canonicalize_url_udf(F.col("href")))
        .filter(link_keep_predicate(F.col("link")))
    )
    # first-enqueue-wins across parents: min depth per link (adopted semantics).
    # The dedup group keys on url_hash (sha2 of the canonical link, 1:1 with
    # it) rather than the link string, so the aggregate's HashPartitioning
    # IS the anti-join key downstream — Catalyst reuses the exchange instead
    # of re-shuffling the candidate side a second time.  min("link") per
    # hash is the unique canonical link for that hash (first-enqueue depth
    # still via min).
    from pyspark.sql import Observation

    obs_links = Observation()
    new_cand = (
        links.withColumn("url_hash", url_hash(F.col("link")))
        .groupBy("url_hash")
        .agg(
            F.min("link").alias("url"),
            (F.min("depth") + 1).cast("int").alias("depth"),
        )
        .withColumn("host", host_col(F.col("url")))
        .select("url", "url_hash", "host", "depth")
    )
    tick("fetch_parse_links")

    # settle the PREVIOUS round's write-behind commits (loop.py closure:
    # manifest flips + its checkpoint) — this is the first point that reads a
    # deferred table (url_seen / bloom_shards), and everything above ran
    # concurrently with those writes
    if on_barrier is not None:
        on_barrier()
        tick("settle_prev")

    # the dedup stage's caches back the url_seen / bloom_shards writes, so
    # they ride the write-behind group and are released at its settle
    if cfg.use_bloom:
        new_cand = new_cand.observe(obs_links, F.count(F.lit(1)).alias("n"))
        params = bloomops.BloomParams(
            capacity=cfg.bloom_capacity, buckets=cfg.bloom_buckets
        )
        shards = cat.read("bloom_shards")
        survivors, new_shards, _dedup_caches = bloomops.filter_and_update(
            new_cand, shards, params
        )
        # fills the pass cache both survivors and new_shards project from
        n_new = survivors.count()
        # the survivors count above also filled obs_links (new_cand feeds it)
        n_links = int(obs_links.get["n"])
    else:
        # seen-side SCAN, never a seen-side shuffle: url_seen grows every
        # round (O(total URLs crawled)), so the classic left-anti shuffles
        # an ever-growing table on every round.  Instead (1) semi-probe the
        # seen scan with the broadcast candidate hashes — map-side, column-
        # pruned to url_hash — producing `hits` (bounded by the candidate
        # count, not the seen count), then (2) broadcast-anti new_cand vs
        # hits.  Both broadcasts are bounded by THIS round's candidate set;
        # beyond the ~10^7-candidates-per-round regime use_bloom is the
        # documented scale path (config.py).
        seen = cat.read("url_seen") or _empty(spark, schemas.URL_SEEN)
        new_cand = new_cand.cache()
        n_links = new_cand.count()
        hits = seen.select("url_hash").join(
            F.broadcast(new_cand.select("url_hash")), "url_hash", "left_semi"
        )
        survivors = new_cand.join(
            F.broadcast(hits), "url_hash", "left_anti"
        ).cache()
        n_new = survivors.count()
        _dedup_caches = [new_cand, survivors]
    tick("dedup")

    # ---- metrics (per-partition lineage, north_rule) --------------------------------
    part_stats = (
        parsed.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("pages_fetched"),
            F.sum(F.octet_length("html")).alias("bytes"),
            F.max("crawl_time").alias("fetch_max_s"),
        )
        .collect()
    )
    n_fetched = sum(r["pages_fetched"] for r in part_stats)
    # the slowest fetch's crawl_time: a round that ran long says whether a
    # fetch did it (crawl_time also feeds avg_crawl_time's scoring threshold)
    fetch_max_s = max(
        (r["fetch_max_s"] for r in part_stats if r["fetch_max_s"] is not None),
        default=None,
    )
    n_failed = n_scheduled - n_fetched
    wall_ms = int((time.monotonic() - t0) * 1000)
    metrics_rows = [
        (
            round_no, int(r["partition_id"]), None, None, None,
            int(r["pages_fetched"]), None, None, int(r["bytes"]), None,
        )
        for r in part_stats
    ]
    metrics_rows.append(
        (
            round_no, -1, urls_in, int(n_links - n_new), n_scheduled,
            n_fetched, n_failed, n_links, None, wall_ms,
        )
    )
    metrics_df = spark.createDataFrame(metrics_rows, schemas.ROUND_METRICS)
    tick("metrics")

    # fetch-miss cap elision: n_failed is already known here, and on a round
    # with no misses (the closed synthetic web, or an all-200 http batch) the
    # ``failed`` plan is an anti-join that would re-shuffle the scheduled and
    # parsed sets inside the commit barrier (via retry -> frontier and
    # log_fail -> crawl_log) only to produce zero rows — swap in an empty
    # frame with the identical schema instead
    if n_failed == 0:
        failed = spark.createDataFrame([], failed.schema)

    # ---- crawl_log append (S11 replacement) -------------------------------------
    log_ok = enriched.select(
        F.lit(round_no).alias("round"),
        "url",
        "url_hash",
        "host",
        "status_code",
        F.lit(True).alias("success"),
        F.lit(None).cast("string").alias("error"),
        "crawl_time",
        "content_length",
        "quality_score",
        F.lit(now).alias("fetched_ts"),
    )
    log_fail = failed.select(
        F.lit(round_no).alias("round"),
        "url",
        "url_hash",
        "host",
        "status_code",
        F.lit(False).alias("success"),
        F.lit("fetch_failed").alias("error"),
        F.lit(None).cast("double").alias("crawl_time"),
        F.lit(None).cast("long").alias("content_length"),
        F.lit(None).cast("double").alias("quality_score"),
        F.lit(now).alias("fetched_ts"),
    )
    log_blocked = blocked.select(
        F.lit(round_no).alias("round"),
        "url",
        "url_hash",
        "host",
        F.lit(None).cast("int").alias("status_code"),
        F.lit(False).alias("success"),
        F.lit("robots_disallowed").alias("error"),
        F.lit(None).cast("double").alias("crawl_time"),
        F.lit(None).cast("long").alias("content_length"),
        F.lit(None).cast("double").alias("quality_score"),
        F.lit(now).alias("fetched_ts"),
    )
    new_log = log_ok.unionByName(log_fail).unionByName(log_blocked).cache()


    # ---- next frontier -------------------------------------------------------------
    front_cols = [f.name for f in schemas.FRONTIER.fields]
    new_entries = survivors.select(
        F.lit(round_no + 1).alias("round"),
        "url",
        "url_hash",
        "host",
        "depth",
        F.lit(None).cast("double").alias("score"),
        F.lit(now).alias("discovered_ts"),
        F.lit(round_no + 1).cast("long").alias("seq"),
        F.lit(0).alias("retries"),
    )
    retry = (
        failed.filter(F.col("retries") + 1 <= cfg.max_retries)
        .select(
            F.lit(round_no + 1).alias("round"),
            "url",
            "url_hash",
            "host",
            "depth",
            F.lit(None).cast("double").alias("score"),
            F.col("discovered_ts"),
            F.col("seq"),
            (F.col("retries") + 1).alias("retries"),
        )
    )
    # ---- freshness re-crawl (Cho–Garcia-Molina, operators/recrawl) -------------
    # Every cfg.recrawl_every rounds, re-enqueue the already-crawled URLs
    # most likely to have changed: priority = change_rate × age over the
    # crawl_log observation history (content_length as the content
    # fingerprint proxy; ties broken by age so never-revisited pages
    # bootstrap their histories).  The priority rides the frontier row's
    # ``score`` column and is blended into next round's scheduling score
    # (enrich stage above).  Scale: one history scan + one url_hash-keyed
    # shuffle per TRIGGER round (amortized by recrawl_every); the top-k cut
    # is a TakeOrdered, and both exclusion joins probe with sets bounded by
    # recrawl_top / this round's batch.
    recrawl_rows = None
    if cfg.recrawl_every and (round_no + 1) % cfg.recrawl_every == 0:
        # a URL still pending in the frontier, or fetched THIS round (its
        # log rows aren't committed yet), must not re-enter
        recrawl_rows = recrawl_rows_for(
            cat, cfg, now, round_no + 1, exclude=(frontier, scheduled)
        )
    # ---- commits (snapshot per table, then the round checkpoint) --------------------
    # url_metadata MERGE (J7): upsert rows for every fetched/failed url.
    # Merge-on-read: every round APPENDS only this round's upsert rows
    # (O(delta) write — the shape of an Iceberg MoR MERGE, whose data files
    # are delta-sized and whose reconciliation lives in the reader);
    # compact_state periodically rewrites the latest-per-key base.
    upd = (
        new_log.filter(F.col("error").isNull() | (F.col("error") != "robots_disallowed"))
        .select(
            "url_hash",
            F.col("fetched_ts").alias("last_crawled"),
            F.when(F.col("success"), "success").otherwise("failed").alias("last_status"),
            "quality_score",
            "crawl_time",
            "content_length",
        )
    )
    # domain_stats (A9 adopted aggregate) maintained incrementally — merge
    # this round's per-host sums; no rescan of the ever-growing crawl_log.
    # Round 0 merges into an empty frame (0.0 sums for an all-failed host)
    dstats_new = scoring.domain_stats_update(
        dstats or _empty(spark, schemas.DOMAIN_STATS), new_log
    ).withColumn("content_type_count", F.lit(None).cast("int"))

    # the table commits form ONE multi-table transaction (catalog.commit_many):
    # data dirs are written as concurrent Spark jobs, then every manifest is
    # renamed in a single driver-side pass — the round pays one commit
    # barrier, not eight, and no new snapshot is visible until all data
    # writes have landed. The checkpoint manifest (loop.py) is still written
    # strictly after this returns.
    m_this = {"round": round_no}
    m_next = {"round": round_no + 1}
    # materialize the new_log cache BEFORE the commit barrier: crawl_log,
    # url_metadata (via upd) and domain_stats all derive from it, and three
    # concurrent write jobs hitting a COLD cache serialize on per-block
    # cache-fill locks (measured as ~6-10 s of extra wall inside the barrier
    # at the 4M-page scaling shape, constant in core count — the cache fill
    # itself is a scaling job when run alone here)
    new_log.count()
    # two-group commit pipeline: the SYNC group is exactly what the next
    # round reads before its dedup stage (frontier state, url_metadata,
    # domain_stats — all O(delta) under merge-on-read); the DEFERRED group
    # (crawl_log, pages, url_seen, bloom_shards, parsed, round_metrics) is
    # handed to commit_many_async and flushes while the next round's schedule
    # stage runs — its driver-latency waits leave cores idle, which the
    # deferred write jobs fill.  Visibility still flips atomically at settle,
    # before the first deferred-table read.
    deferred: list[tuple] = [
        ("crawl_log", new_log, "append", m_this),
        ("pages", pages_out, "append", m_this),
        ("url_seen",
         survivors.select("url_hash", "url", F.lit(round_no + 1).alias("round")),
         "append", m_this),
        ("round_metrics", metrics_df, "append", m_this),
    ]
    if cfg.use_bloom:
        deferred.append(
            ("bloom_shards", new_shards.withColumn("round", F.lit(round_no + 1)),
             "overwrite", m_this)
        )
    if cfg.store_parsed:
        deferred.append(
            ("parsed", parsed.select([f.name for f in schemas.PARSED.fields]),
             "append", m_this)
        )
    # frontier maintenance, merge-on-read: the frontier gains adds (new
    # links ∪ retries ∪ re-enqueues); dequeued (scheduled) and robots-blocked
    # rows are tombstoned by (url_hash, enqueue-round); un-dequeued rows stay
    # in place.  The catalog records both tables' row counts, from which
    # the next round reads its urls_in.
    adds = retry.unionByName(new_entries).select(*front_cols)
    if recrawl_rows is not None:
        adds = adds.unionByName(recrawl_rows.select(*front_cols))
    consumed = scheduled.select("url_hash", "round").unionByName(
        blocked.select("url_hash", "round")
    )
    commit_walls = cat.commit_many([
        ("domain_stats",
         dstats_new.select([f.name for f in schemas.DOMAIN_STATS.fields]),
         "overwrite", m_this),
        ("url_metadata", upd, "append", m_this),
        ("frontier", adds, "append", m_next),
        ("frontier_consumed", consumed, "append", m_next),
    ])
    # hand the bulky appends to the write-behind pipeline.  Caches split two
    # ways: frames whose lineage backs a deferred write (parsed → pages,
    # new_log → crawl_log, the dedup caches → url_seen / bloom_shards,
    # raw_fetch under parsed) stay pinned until settle; everything upstream
    # of the SYNC group only (frontier, cand, scheduled + scheduler
    # intermediates) is released right here — commit_many already consumed
    # them, and keeping full-HTML frames pinned an extra round doubles peak
    # cache footprint for nothing.
    deferred_caches = [parsed, new_log, *_dedup_caches]
    if raw_fetch is not None:
        deferred_caches.append(raw_fetch)
    pending = cat.commit_many_async(deferred, unpersist=deferred_caches)
    for df in (frontier, cand, *_sched_caches):  # scheduled is among them
        df.unpersist()
    # every cfg.compact_every rounds the committed state is compacted; its
    # rewrites read only sync-group tables, so they overlap the deferred
    # writes started above
    compact = cfg.compact_every <= 1 or (round_no + 1) % cfg.compact_every == 0
    if compact:
        commit_walls.update(compact_state(cat, round_no))
    tick("commits")

    return {
        "round": round_no,
        "urls_in": urls_in,
        "scheduled": n_scheduled,
        "fetched": n_fetched,
        "failed": n_failed,
        "links": n_links,
        "new_urls": n_new,
        "wall_ms": wall_ms,
        "fetch_max_s": fetch_max_s,
        "times": times,
        "commit_walls": commit_walls,
        "compacted": compact,
        "pending": pending,
        "done": False,
    }
