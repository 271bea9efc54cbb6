"""Fixed StructType schemas for every engine table (SURVEY.md §1.2).

The reference keeps most state in dynamic dicts / Redis strings
(url_frontier.py, processor.py); here every table has a declared schema so
Catalyst can prune columns and push filters into the Parquet scans.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# primary input — Common-Crawl-style pages (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SEEDS = T.StructType([T.StructField("url", T.StringType(), False)])

# robots rules per host (url_frontier.py:139-163); longest-prefix-match
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("allow", T.BooleanType(), False),
                        T.StructField("path_prefix", T.StringType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField("fetched_ts", T.TimestampType(), True),
    ]
)

# frontier state (FIXTURES.md §4)
FRONTIER = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("discovered_ts", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("retries", T.IntegerType(), False),
    ]
)

# exact URL-seen mirror (test-scale oracle for the Bloom shards)
URL_SEEN = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# partitioned Bloom shards (SURVEY.md §4.2)
BLOOM_SHARDS = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# per-URL crawl metadata (url_frontier.py:125-130, 169-186)
# merge-on-read tombstones for dequeued/blocked frontier entries: the live
# frontier is base ⟕̸ consumed on (url_hash, enqueue-round); compaction
# (plans/round.compact_state, cfg.compact_every) folds them into the base
FRONTIER_CONSUMED = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

URL_METADATA = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("last_crawled", T.TimestampType(), True),
        T.StructField("last_status", T.StringType(), True),
        T.StructField("quality_score", T.DoubleType(), True),
        T.StructField("crawl_time", T.DoubleType(), True),
        T.StructField("content_length", T.LongType(), True),
    ]
)

# per-domain stats (prioritizer.py:140-167, postgres_storage.py:148-170)
DOMAIN_STATS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("domain_score", T.DoubleType(), True),
        T.StructField("success_count", T.LongType(), True),
        T.StructField("total_count", T.LongType(), True),
        T.StructField("avg_crawl_time", T.DoubleType(), True),
        T.StructField("avg_content_length", T.DoubleType(), True),
        T.StructField("content_type_count", T.IntegerType(), True),
        T.StructField("last_crawled", T.TimestampType(), True),
        # running sums for incremental maintenance (scoring.domain_stats_update)
        T.StructField("sum_crawl_time", T.DoubleType(), True),
        T.StructField("sum_content_length", T.DoubleType(), True),
        T.StructField("sum_quality", T.DoubleType(), True),
    ]
)

# ParsedPage struct (html_parser.py:11-23)
IMAGE = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("alt", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("width", T.StringType(), True),
        T.StructField("height", T.StringType(), True),
    ]
)

PARSED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("keywords", T.ArrayType(T.StringType()), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("links", T.ArrayType(T.StringType()), True),
        T.StructField("images", T.ArrayType(IMAGE), True),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField(
            "headers", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True
        ),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# per-round, per-partition lineage + metrics (north_rule)
ROUND_METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("urls_in", T.LongType(), True),
        T.StructField("urls_deduped", T.LongType(), True),
        T.StructField("urls_scheduled", T.LongType(), True),
        T.StructField("pages_fetched", T.LongType(), True),
        T.StructField("pages_failed", T.LongType(), True),
        T.StructField("links_discovered", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)
