"""Checkpoint/resume (north_rule): kill after round k, resume, and the
remaining rounds are byte-equal to an uninterrupted run."""

import glob
import json
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from adavnceseo_crawler_spark import synth
from adavnceseo_crawler_spark.catalog import SnapshotCatalog
from adavnceseo_crawler_spark.config import CrawlConfig
from adavnceseo_crawler_spark.plans import loop
from adavnceseo_crawler_spark.plans.round import read_frontier

N_PAGES, N_HOSTS = 300, 8
# compact_every=2: rounds 1/3/5 rewrite the merge-on-read bases, so the
# kill-at-3 resume below replays across both append rounds and compactions
CFG = CrawlConfig(politeness_budget=3, batch_size=30, max_rounds=6, compact_every=2)


def _bootstrap(spark, root, cfg=CFG):
    cat = SnapshotCatalog(spark, root)
    loop.bootstrap(
        spark, cat, cfg,
        synth.gen_seeds(spark, N_PAGES, N_HOSTS),
        synth.gen_pages(spark, N_PAGES, N_HOSTS, partitions=8),
        synth.gen_robots(spark, N_HOSTS),
    )
    return cat


def _snapshot_state(cat):
    log = cat.read("crawl_log")
    rows = sorted(
        (r["round"], r["url"], r["success"], r["error"])
        for r in log.select("round", "url", "success", "error").collect()
    )
    frontier = sorted(
        (r["url"], r["depth"], r["retries"])
        for r in read_frontier(cat).select("url", "depth", "retries").collect()
    )
    seen = sorted(r["url"] for r in cat.read("url_seen").select("url").collect())
    texts = sorted(
        (r["url"], r["text"]) for r in cat.read("pages").select("url", "text").collect()
    )
    return rows, frontier, seen, texts


@pytest.mark.parametrize("use_bloom", [False, True])
def test_kill_resume_identical(spark, tmp_path, use_bloom):
    # both URL-seen paths: bloom_shards rides the write-behind group
    cfg = replace(CFG, use_bloom=use_bloom, bloom_capacity=100_000, bloom_buckets=8)
    # uninterrupted run
    cat_a = _bootstrap(spark, str(tmp_path / "a"), cfg)
    loop.run_crawl(spark, cat_a, cfg, max_rounds=6)
    # round 5 compacted: the tombstones are emptied by a manifest-only snapshot
    assert cat_a.latest("frontier_consumed").dirs == []

    # interrupted run: 3 rounds, "kill", fresh loop resumes from checkpoint
    cat_b = _bootstrap(spark, str(tmp_path / "b"), cfg)
    loop.run_crawl(spark, cat_b, cfg, max_rounds=3)
    assert loop.last_completed_round(cat_b) == 2
    # resume (a new SnapshotCatalog instance = a new process's view)
    cat_b2 = SnapshotCatalog(spark, str(tmp_path / "b"))
    loop.run_crawl(spark, cat_b2, cfg, max_rounds=6)
    assert loop.last_completed_round(cat_b2) == 5

    assert _snapshot_state(cat_a) == _snapshot_state(cat_b2)


def test_round_without_recorded_counts(spark, tmp_path):
    """A warehouse whose manifests predate row counts (no "records" key)
    crawls the same rows: urls_in falls back to counting the frontier."""
    cat_a = _bootstrap(spark, str(tmp_path / "a"))
    cat_b = _bootstrap(spark, str(tmp_path / "b"))
    for path in glob.glob(str(tmp_path / "b" / "*" / "_manifests" / "*.json")):
        with open(path) as fh:
            d = json.load(fh)
        d.pop("records")
        with open(path, "w") as fh:
            json.dump(d, fh)
    assert cat_b.records("frontier") is None
    stats_a = loop.run_crawl(spark, cat_a, CFG, max_rounds=2)
    stats_b = loop.run_crawl(spark, cat_b, CFG, max_rounds=2)
    assert [s["urls_in"] for s in stats_a] == [s["urls_in"] for s in stats_b]
    assert _snapshot_state(cat_a) == _snapshot_state(cat_b)


def test_resume_discards_partial_round(spark, tmp_path):
    """A round that committed some tables but not the checkpoint is replayed
    deterministically: roll tables back to the checkpointed snapshots first."""
    cat = _bootstrap(spark, str(tmp_path / "c"))
    loop.run_crawl(spark, cat, CFG, max_rounds=2)
    # simulate a crash mid-round-2: crawl_log got an extra bogus append but
    # the checkpoint was never written
    bogus = spark.createDataFrame(
        [(99, "https://bogus/", "h", "hostX", 200, True, None, 0.1, 10, 1.0, None)],
        cat.read("crawl_log").schema,
    )
    cat.commit("crawl_log", bogus, mode="append")
    # resume must first rollback to the last checkpointed state
    loop.rollback_to_checkpoint(spark, cat)
    rows = cat.read("crawl_log").filter(F.col("round") == 99).count()
    assert rows == 0
    stats = loop.run_crawl(spark, cat, CFG, max_rounds=4)
    assert [s["round"] for s in stats] == [2, 3]


def test_rollback_drops_tables_absent_from_checkpoint(spark, tmp_path):
    """ADVICE: a crash during round 0's commit phase (after the pages/parsed/
    round_metrics appends, before _checkpoint(0)) must not leave their round-0
    data in place — the replay would append it again, duplicating rows."""
    cat = _bootstrap(spark, str(tmp_path / "d"))
    # bootstrap checkpoint (round -1) has no snapshot for pages/parsed/
    # round_metrics; simulate the mid-commit crash of round 0
    pages_schema = cat.read("web").schema
    partial = cat.read("web").limit(3)
    cat.commit("pages", partial, mode="append", meta={"round": 0})
    assert cat.read("pages") is not None

    loop.rollback_to_checkpoint(spark, cat)
    assert cat.read("pages") is None  # fully dropped, not half-kept

    # the replayed run must produce no duplicate pages rows
    loop.run_crawl(spark, cat, CFG, max_rounds=3)
    pages = cat.read("pages").select("url")
    assert pages.count() == pages.distinct().count()


def test_checkpoint_stats_are_data(spark, tmp_path):
    """The checkpoint manifest stores the round stats as JSON data (not a
    repr string), so per-stage walls are readable after a restart; the live
    frontier size is read from the manifests' row counts, not the stats."""
    root = str(tmp_path / "c")
    loop.run_crawl(spark, _bootstrap(spark, root), CFG, max_rounds=2)
    # a fresh catalog reads the manifest back from disk
    cat = SnapshotCatalog(spark, root)
    meta = cat.latest("checkpoint").meta
    live = cat.records("frontier") - cat.records("frontier_consumed")
    assert live == read_frontier(cat).count()
    assert "frontier_rows" not in meta
    assert meta["round"] == 1
    times = meta["stats"]["times"]
    assert isinstance(times, dict)
    assert {"schedule", "dedup", "commits"} <= times.keys(), times
    # round 1 is a compact round (compact_every=2): its commit walls hold the
    # round's own append group and, marked as such, the compaction rewrites
    assert meta["stats"]["compacted"] is True
    walls = meta["stats"]["commit_walls"]
    assert set(walls) == {
        "domain_stats", "url_metadata", "frontier", "frontier_consumed",
        "compact.url_metadata", "compact.frontier",
    }, walls
    assert all(isinstance(w, float) for w in walls.values()), walls
