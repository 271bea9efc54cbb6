"""Scheduler wiring for trap-template capping + freshness re-crawl
(VERDICT r4 Next-round #2): the round-4 operators urlmine.mine_url_templates
and recrawl.change_rate_priority as live scheduling components behind
CrawlConfig switches (both off by default — sim parity preserved)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from adavnceseo_crawler_spark.operators.politeness import (
    schedule_batch_counted,
    trap_template_cap,
)


def _frontier_df(spark):
    """trap.example.com: 30 /cal/<N> URLs (ONE template cell) carrying the
    TOP scores plus 6 lettered pages with lower scores; clean.example.com:
    10 distinct-template URLs."""
    rows = []
    for i in range(30):
        rows.append(
            ("trap.example.com", f"https://trap.example.com/cal/{2000 + i}",
             100.0 - i * 0.5, i)
        )
    for j, letter in enumerate("abcdef"):
        rows.append(
            ("trap.example.com", f"https://trap.example.com/page-{letter}",
             10.0 - j, 100 + j)
        )
    for k in range(10):
        rows.append(
            ("clean.example.com", f"https://clean.example.com/item-{chr(97 + k)}",
             50.0 - k, 200 + k)
        )
    return spark.createDataFrame(
        rows, "host string, url string, score double, seq long"
    )


def test_trap_cap_reroutes_budget_to_other_urls(spark):
    """The planted trap cell is capped at trap_cap per round while the
    host's OTHER URLs still fill the politeness budget — the guard runs
    BEFORE the per-host top-k, so capped slots are not wasted."""
    df = _frontier_df(spark)
    # without the guard the trap host's whole budget goes to /cal/
    base, _, _ = schedule_batch_counted(df, budget=5, batch_size=100)
    got0 = [r["url"] for r in base.collect() if "trap.example" in r["url"]]
    assert all("/cal/" in u for u in got0) and len(got0) == 5
    # with the guard: exactly cap /cal/ rows (the top-2 by score) + the
    # next-best non-trap URLs fill the remaining budget
    sched, _, _ = schedule_batch_counted(
        df, budget=5, batch_size=100, trap_threshold=10, trap_cap=2
    )
    trap_rows = sorted(
        r["url"] for r in sched.collect() if "trap.example" in r["url"]
    )
    assert trap_rows == [
        "https://trap.example.com/cal/2000",
        "https://trap.example.com/cal/2001",
        "https://trap.example.com/page-a",
        "https://trap.example.com/page-b",
        "https://trap.example.com/page-c",
    ]
    # clean host untouched (top-5 of its 10 by score)
    clean_rows = [r["url"] for r in sched.collect() if "clean." in r["url"]]
    assert len(clean_rows) == 5


def test_trap_guard_noop_below_threshold(spark):
    """A threshold no cell reaches leaves the row set identical to the
    guard-off scheduler."""
    df = _frontier_df(spark)
    on, _, _ = schedule_batch_counted(
        df, budget=5, batch_size=100, trap_threshold=1000, trap_cap=2
    )
    off, _, _ = schedule_batch_counted(df, budget=5, batch_size=100)
    assert {r["url"] for r in on.collect()} == {r["url"] for r in off.collect()}


def test_template_census_rides_one_corpus_exchange(spark):
    """Plan pin: the host-level politeness census is a ROLLUP of the
    (host, template) cell census — the input relation is scanned once in
    the host_counts plan (no second corpus-wide aggregation), and the
    flagged-cell joins are broadcasts."""
    df = _frontier_df(spark)
    order = [F.desc("score"), F.asc("url")]
    kept, host_counts = trap_template_cap(
        df, threshold=10, cap=2, order=order, salt_buckets=4
    )
    hc_plan = host_counts._jdf.queryExecution().optimizedPlan().toString()
    # the rollup consumes the cell census: exactly one scan of the input
    # relation feeds BOTH aggregations
    assert hc_plan.count("LogicalRDD") == 1, hc_plan
    assert hc_plan.count("Aggregate") == 2, hc_plan
    kept_plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in kept_plan, kept_plan


def _mini_web(spark, changed: set[str] | None = None):
    """Hub page linking to six child pages on one host; ``changed`` pages
    get a longer body (content_length delta on re-fetch)."""
    ts = dt.datetime(2024, 1, 1)
    host = "https://h0.example.com"
    hrefs = "".join(
        f'<a href="{host}/p{i}">link {i}</a> ' for i in range(1, 7)
    )
    rows = [(f"{host}/", ts, f"<html><head><title>hub</title></head>"
             f"<body><p>hub body words</p>{hrefs}</body></html>".encode(),
             "hub body words", "en")]
    for i in range(1, 7):
        extra = " more changed words now" if changed and f"p{i}" in changed else ""
        body = f"page {i} body words{extra}"
        rows.append(
            (f"{host}/p{i}", ts,
             f"<html><head><title>p{i}</title></head><body><p>{body}</p>"
             f"</body></html>".encode(), body, "en")
        )
    from adavnceseo_crawler_spark import schemas

    return spark.createDataFrame(rows, schemas.PAGES)


@pytest.mark.parametrize("compact_every", [8, 1])
def test_trap_guard_in_crawl_round(spark, tmp_path, compact_every):
    """Round-level: a hub page links into a calendar trap (30 URLs, one
    (host, template) cell) plus five normal pages; with the guard on, each
    round admits at most trap_admit_per_round trap URLs while the host's
    other URLs crawl unimpeded — crawl_log growth per round proves it.
    With compact_every=1 every round rewrites the frontier base, and a
    trap URL the cap holds back must survive the rewrite: each one is
    either fetched or still in the live frontier."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop
    from adavnceseo_crawler_spark.plans.round import read_frontier

    ts = dt.datetime(2024, 1, 1)
    host = "https://h0.example.com"
    cal = "".join(
        f'<a href="{host}/cal/{2000 + i}">c{i}</a> ' for i in range(30)
    )
    normal = "".join(
        f'<a href="{host}/page-{x}">n{x}</a> ' for x in "abcde"
    )
    rows = [(f"{host}/", ts,
             f"<html><head><title>hub</title></head><body><p>hub words</p>"
             f"{cal}{normal}</body></html>".encode(), "hub words", "en")]
    for i in range(30):
        rows.append((f"{host}/cal/{2000 + i}", ts,
                     b"<html><head><title>c</title></head><body>"
                     b"<p>calendar page</p></body></html>",
                     "calendar page", "en"))
    for x in "abcde":
        rows.append((f"{host}/page-{x}", ts,
                     b"<html><head><title>n</title></head><body>"
                     b"<p>normal page</p></body></html>",
                     "normal page", "en"))
    web = spark.createDataFrame(rows, schemas.PAGES)

    cfg = CrawlConfig(
        politeness_budget=7, batch_size=100, max_rounds=3,
        compact_every=compact_every,
        trap_template_threshold=10, trap_admit_per_round=2,
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    seeds = spark.createDataFrame([(f"{host}/",)], "url string")
    robots = spark.createDataFrame([], schemas.ROBOTS)
    loop.bootstrap(spark, cat, cfg, seeds, web, robots)
    loop.run_crawl(spark, cat, cfg)
    log = cat.read("crawl_log").select("round", "url").collect()
    per_round_cal = {}
    cal_fetched = set()
    normal_fetched = set()
    for r in log:
        if "/cal/" in r["url"]:
            per_round_cal[r["round"]] = per_round_cal.get(r["round"], 0) + 1
            cal_fetched.add(r["url"])
        elif "/page-" in r["url"]:
            normal_fetched.add(r["url"])
    # every round admits at most cap=2 trap URLs...
    assert per_round_cal and all(v <= 2 for v in per_round_cal.values()), \
        per_round_cal
    # ...while ALL five normal pages crawl in round 1 (budget 7 = 2 + 5)
    assert len(normal_fetched) == 5, normal_fetched
    # no trap URL is lost or duplicated: fetched ⊎ pending == all 30
    pending = [
        r["url"] for r in read_frontier(cat).collect() if "/cal/" in r["url"]
    ]
    assert len(pending) == len(set(pending))
    assert not cal_fetched & set(pending)
    assert cal_fetched | set(pending) == {
        f"{host}/cal/{2000 + i}" for i in range(30)
    }


def test_recrawl_reenqueues_and_ranks_changed_pages(spark, tmp_path):
    """End-to-end: with recrawl enabled a drained frontier flips to refresh
    mode (selective — recrawl_top < corpus, so revisits compete and pages
    genuinely AGE between visits); after a planted content change (web
    table overwritten mid-crawl — an input table, NOT rolled back by
    resume) the changed pages' Cho–G-M priority turns positive and they
    are the pages whose re-enqueues carry a positive frontier score."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop

    cfg = CrawlConfig(
        politeness_budget=20, batch_size=100, max_rounds=3,
        recrawl_every=2, recrawl_top=3, compact_every=8,
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    seeds = spark.createDataFrame(
        [("https://h0.example.com/",)], "url string"
    )
    robots = spark.createDataFrame([], schemas.ROBOTS)
    loop.bootstrap(spark, cat, cfg, seeds, _mini_web(spark), robots)
    # rounds 0-2: hub, then p1-p6; round 2 is the first refresh revival
    stats = loop.run_crawl(spark, cat, cfg)
    assert [s["round"] for s in stats] == [0, 1, 2]
    log = cat.read("crawl_log")
    refetched = (
        log.groupBy("url_hash")
        .agg(F.count_distinct("round").alias("r"))
        .filter(F.col("r") > 1)
        .count()
    )
    assert refetched > 0  # refresh mode revived the drained frontier
    # plant a change: p2 and p4 grow; everything else byte-identical.
    # The web is an INPUT table — run_crawl's resume rollback must keep it.
    cat.commit("web", _mini_web(spark, changed={"p2", "p4"}), mode="overwrite")
    loop.run_crawl(spark, cat, cfg, max_rounds=10)
    # the change was observed: two distinct content lengths logged
    for page in ("p2", "p4"):
        obs = (
            cat.read("crawl_log")
            .filter(F.col("url") == f"https://h0.example.com/{page}")
            .select("content_length")
            .collect()
        )
        assert len({r["content_length"] for r in obs}) == 2, (page, obs)
    # change_rate feeds the re-enqueue score: every frontier row carrying a
    # positive priority is a changed page, and both changed pages got one
    carried = (
        cat.read("frontier")
        .filter(F.col("score").isNotNull() & (F.col("score") > 0))
        .select("url")
        .collect()
    )
    urls = {r["url"] for r in carried}
    assert urls == {
        "https://h0.example.com/p2", "https://h0.example.com/p4"
    }, urls


def test_compact_round_keeps_carried_refresh_score(spark, tmp_path):
    """ADVICE r5: with freshness re-crawl enabled, a frontier row carrying a
    Cho-G-M refresh priority that is NOT scheduled before a compact round
    must keep its carried score through the frontier-base rewrite (compact
    rounds used to null it, silently reverting the revived row to a plain
    link — and the restored value must be the CARRIED priority, not the
    blended scheduling score)."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.functions.urls import host_col, url_hash
    from adavnceseo_crawler_spark.plans import loop
    from adavnceseo_crawler_spark.plans.round import round_ts

    ts = dt.datetime(2024, 1, 1)
    web = spark.createDataFrame(
        [("https://a.example.com/article/1", ts,
          b"<html><body><p>a</p></body></html>", "a", "en")],
        schemas.PAGES,
    )
    # batch_size=1 and compact_every=1: the /article/ seed outranks the
    # injected carried row (pattern weight 1.5 vs 1.0 + 0.1 carried), so
    # the carried row is the compact leftover
    cfg = CrawlConfig(
        politeness_budget=5, batch_size=1, max_rounds=1,
        compact_every=1, recrawl_every=4,
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    seeds = spark.createDataFrame(
        [("https://a.example.com/article/1",)], "url string"
    )
    loop.bootstrap(
        spark, cat, cfg, seeds, web,
        spark.createDataFrame([], schemas.ROBOTS),
    )
    carried = (
        spark.createDataFrame(
            [("https://b.example.com/y", 0.1)], "url string, score double"
        )
        .select(
            F.lit(0).alias("round"),
            "url",
            url_hash(F.col("url")).alias("url_hash"),
            host_col(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.col("score"),
            F.lit(round_ts(0)).alias("discovered_ts"),
            F.lit(0).cast("long").alias("seq"),
            F.lit(0).alias("retries"),
        )
    )
    cat.commit("frontier", carried, mode="append", meta={"round": 0})
    # re-record the bootstrap checkpoint so resume's rollback keeps the
    # injected row (appends after a checkpoint are rolled back by design)
    loop._checkpoint(spark, cat, -1, {})
    stats = loop.run_crawl(spark, cat, cfg)
    assert stats[0]["scheduled"] == 1 and stats[0]["fetched"] == 1
    rows = {
        r["url"]: r["score"]
        for r in cat.read("frontier").select("url", "score").collect()
    }
    assert rows["https://b.example.com/y"] == 0.1, rows
