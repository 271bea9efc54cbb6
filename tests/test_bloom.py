"""Partitioned Bloom URL-seen shards (M4): zero false negatives, FPR within
bound, shard persistence, and crawl parity vs the exact anti-join path."""

import hashlib

import pytest
from pyspark.sql import functions as F

from adavnceseo_crawler_spark.operators.bloom import (
    BloomParams,
    empty_shards,
    filter_and_update,
)


def _cand_df(spark, urls):
    rows = [
        (u, hashlib.sha256(u.encode()).hexdigest(), "h", 0) for u in urls
    ]
    return spark.createDataFrame(
        rows, "url string, url_hash string, host string, depth int"
    )


@pytest.fixture(scope="module")
def params():
    return BloomParams(capacity=200_000, fpr=0.001, buckets=16)


def test_no_false_negatives_and_fpr(spark, params):
    n = 30_000
    first = _cand_df(spark, [f"https://h/{i}" for i in range(n)])
    shards0 = empty_shards(spark, params).select("bucket", "bitset", "n_items")
    surv1, shards1, _ = filter_and_update(first, shards0, params)
    assert surv1.count() >= n * 0.999  # fresh filter: FP collisions only
    # re-offer the same URLs: ALL must be rejected (no false negatives)
    surv2, shards2, _ = filter_and_update(
        first, shards1.select("bucket", "bitset", "n_items"), params
    )
    assert surv2.count() == 0
    # fresh unseen URLs: false-positive rate within ~3x of the configured bound
    fresh = _cand_df(spark, [f"https://h/new-{i}" for i in range(n)])
    surv3, _, _ = filter_and_update(
        fresh, shards1.select("bucket", "bitset", "n_items"), params
    )
    fp = n - surv3.count()
    assert fp <= max(10, 3 * params.fpr * n), f"{fp} false positives"


def test_within_batch_dupes_first_wins(spark, params):
    dup = _cand_df(spark, ["https://h/a", "https://h/a", "https://h/b"])
    shards0 = empty_shards(spark, params).select("bucket", "bitset", "n_items")
    surv, _, _ = filter_and_update(dup, shards0, params)
    assert sorted(r["url"] for r in surv.collect()) == [
        "https://h/a", "https://h/b",
    ]


def test_idle_buckets_reemitted(spark, params):
    """Buckets with no candidates must re-emit their shard (overwrite commit
    carries the full shard set)."""
    one = _cand_df(spark, ["https://h/only"])
    shards0 = empty_shards(spark, params).select("bucket", "bitset", "n_items")
    _, shards1, _ = filter_and_update(one, shards0, params)
    assert shards1.count() == params.buckets


def test_bloom_crawl_matches_exact_crawl(spark, tmp_path):
    """The whole crawl with use_bloom=True produces the same fetch log as the
    exact anti-join path (no FPs at this scale with 0.001 bound), and
    bootstrap + run_crawl leave no cached plan behind on either path."""
    from adavnceseo_crawler_spark import synth
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog
    from adavnceseo_crawler_spark.config import CrawlConfig
    from adavnceseo_crawler_spark.plans import loop

    n, h = 250, 6
    results = {}
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    for mode in ("exact", "bloom"):
        cfg = CrawlConfig(
            politeness_budget=3, batch_size=30, max_rounds=3,
            use_bloom=(mode == "bloom"), bloom_capacity=100_000, bloom_buckets=8,
        )
        cat = SnapshotCatalog(spark, str(tmp_path / mode))
        cached_before = cache_manager.cachedData().size()
        loop.bootstrap(
            spark, cat, cfg,
            synth.gen_seeds(spark, n, h),
            synth.gen_pages(spark, n, h, partitions=4),
            synth.gen_robots(spark, h),
        )
        loop.run_crawl(spark, cat, cfg)
        assert cache_manager.cachedData().size() == cached_before, mode
        results[mode] = sorted(
            (r["round"], r["url"], r["success"])
            for r in cat.read("crawl_log").select("round", "url", "success").collect()
        )
    assert results["exact"] == results["bloom"]
