"""URL priority scoring (U9) as pure Column expressions — no UDFs.

Implements ``URLPrioritizer.calculate_score`` (prioritizer.py:35-75) exactly:

    final = 0.3*base + 0.2*freshness + 0.3*relevance + 0.2*popularity

* base (prioritizer.py:77-96): domain_score (default 1.0) × first-matching
  path-pattern weight (dict order, ``break`` on first hit at :89) × depth
  damping 1/log2(depth) when depth > 3;
* freshness (prioritizer.py:98-118): bucketed age of last crawl, 1.0 if never;
* relevance (prioritizer.py:120-145): ×1.2 when the domain's
  avg_content_length > 5000 (content_relevance / keyword weights default to
  neutral 1.0 — empty in the reference out of the box);
* popularity (prioritizer.py:147-169): ×(0.5 + success_ratio) and
  ×min(1, 1/log2(1+avg_crawl_time)) when domain stats exist.

Domain score maintenance (A9, url_frontier.py:198-216): the reference
overwrites a dict entry per completed URL in nondeterministic asyncio order;
adopted deterministic semantics (SURVEY.md §0): compute the formula over the
per-host aggregates of all successful fetches so far:

    domain_score = min(2.0, (1 + avg(quality)) × min(1, 1/avg(crawl_time))
                            × (1.2 if avg(content_length) > 5000))
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (regex, weight) in reference dict order — first match wins
PATH_PATTERN_WEIGHTS = (
    ("/article/", 1.5),
    ("/blog/", 1.3),
    ("/news/", 1.4),
    ("/product/", 1.2),
    ("/category/", 0.8),
    ("/tag/", 0.6),
    ("/page/[0-9]+", 0.5),
)


def pattern_weight(path: Column) -> Column:
    expr = None
    for pat, w in PATH_PATTERN_WEIGHTS:
        cond = path.rlike(pat)
        expr = F.when(cond, F.lit(w)) if expr is None else expr.when(cond, F.lit(w))
    return expr.otherwise(F.lit(1.0))


def depth_damping(depth: Column) -> Column:
    return F.when(depth > 3, F.lit(1.0) / F.log2(depth.cast("double"))).otherwise(
        F.lit(1.0)
    )


def base_score(path: Column, depth: Column, domain_score: Column) -> Column:
    return (
        F.coalesce(domain_score, F.lit(1.0))
        * pattern_weight(path)
        * depth_damping(depth)
    )


def freshness_score(last_crawled: Column, now: Column) -> Column:
    # NTZ parquet timestamps can't cast straight to long in Spark 4; route via
    # timestamp (no-op for LTZ, session-UTC interpretation for NTZ)
    age = now.cast("timestamp").cast("long") - last_crawled.cast("timestamp").cast(
        "long"
    )  # seconds
    return (
        F.when(last_crawled.isNull(), F.lit(1.0))
        .when(age < 3600, F.lit(0.2))
        .when(age < 86400, F.lit(0.4))
        .when(age < 7 * 86400, F.lit(0.6))
        .when(age < 30 * 86400, F.lit(0.8))
        .otherwise(F.lit(1.0))
    )


def keyword_relevance(url: Column, keyword_weights: dict[str, float]) -> Column:
    """C16: ×weight for each keyword contained in the lowercased URL
    (prioritizer.py:133-137).  Empty by default in the reference."""
    score = F.lit(1.0)
    lower = F.lower(url)
    for kw, w in keyword_weights.items():
        score = score * F.when(lower.contains(kw.lower()), F.lit(w)).otherwise(
            F.lit(1.0)
        )
    return score


def relevance_score(
    avg_content_length: Column,
    url: Column | None = None,
    keyword_weights: dict[str, float] | None = None,
    content_relevance: Column | None = None,
) -> Column:
    """prioritizer.py:120-145: content_relevance × keyword multipliers ×
    content-rich-domain bonus; the first two default to neutral (the
    reference ships empty keyword_weights and no content_relevance)."""
    score = F.lit(1.0)
    if content_relevance is not None:
        score = score * F.coalesce(content_relevance, F.lit(1.0))
    if keyword_weights and url is not None:
        score = score * keyword_relevance(url, keyword_weights)
    return score * F.when(
        avg_content_length.isNotNull() & (avg_content_length > 5000), F.lit(1.2)
    ).otherwise(F.lit(1.0))


def popularity_score(
    success_count: Column, total_count: Column, avg_crawl_time: Column
) -> Column:
    has_stats = total_count.isNotNull()
    ratio_factor = F.when(
        has_stats & (total_count > 0),
        F.lit(0.5) + success_count.cast("double") / total_count.cast("double"),
    ).otherwise(F.lit(1.0))
    time_factor = F.when(
        has_stats & avg_crawl_time.isNotNull() & (avg_crawl_time > 0),
        F.least(F.lit(1.0), F.lit(1.0) / F.log2(F.lit(1.0) + avg_crawl_time)),
    ).otherwise(F.lit(1.0))
    return ratio_factor * time_factor


def final_score(
    path: Column,
    depth: Column,
    domain_score: Column,
    last_crawled: Column,
    now: Column,
    avg_content_length: Column,
    success_count: Column,
    total_count: Column,
    avg_crawl_time: Column,
) -> Column:
    return (
        base_score(path, depth, domain_score) * 0.3
        + freshness_score(last_crawled, now) * 0.2
        + relevance_score(avg_content_length) * 0.3
        + popularity_score(success_count, total_count, avg_crawl_time) * 0.2
    )


_SUM_COLS = (
    "success_count", "total_count", "sum_crawl_time", "sum_content_length",
    "sum_quality",
)


def _round_delta(new_log: DataFrame) -> DataFrame:
    """Per-host sums for one round's log (robots-blocked rows never reach
    mark_url_complete in the reference — url_frontier.py:169 fires only after
    an actual fetch attempt)."""
    attempted = new_log.filter(
        F.col("error").isNull() | (F.col("error") != "robots_disallowed")
    )
    return attempted.groupBy("host").agg(
        F.sum(F.col("success").cast("long")).alias("success_count"),
        F.count(F.lit(1)).alias("total_count"),
        F.sum(F.when(F.col("success"), F.col("crawl_time"))).alias("sum_crawl_time"),
        F.sum(F.when(F.col("success"), F.col("content_length"))).alias(
            "sum_content_length"
        ),
        F.sum(F.when(F.col("success"), F.col("quality_score"))).alias("sum_quality"),
        F.max("fetched_ts").alias("last_crawled"),
    )


def _derive_stats(sums: DataFrame) -> DataFrame:
    """avg columns + A9 domain score from running sums."""
    succ = F.col("success_count").cast("double")
    with_avgs = (
        sums.withColumn(
            "avg_crawl_time",
            F.when(F.col("success_count") > 0, F.col("sum_crawl_time") / succ),
        )
        .withColumn(
            "avg_content_length",
            F.when(F.col("success_count") > 0, F.col("sum_content_length") / succ),
        )
        .withColumn(
            "avg_quality",
            F.when(F.col("success_count") > 0, F.col("sum_quality") / succ),
        )
    )
    raw = (
        (F.lit(1.0) + F.coalesce(F.col("avg_quality"), F.lit(0.0)))
        * F.when(
            F.col("avg_crawl_time").isNotNull() & (F.col("avg_crawl_time") > 0),
            F.least(F.lit(1.0), F.lit(1.0) / F.col("avg_crawl_time")),
        ).otherwise(F.lit(1.0))
        * F.when(
            F.col("avg_content_length").isNotNull()
            & (F.col("avg_content_length") > 5000),
            F.lit(1.2),
        ).otherwise(F.lit(1.0))
    )
    return with_avgs.withColumn("domain_score", F.least(F.lit(2.0), raw)).drop(
        "avg_quality"
    )


def domain_stats_update(old_stats: DataFrame | None, new_log: DataFrame) -> DataFrame:
    """A9 adopted-aggregate domain score, maintained **incrementally**:
    merge this round's per-host sums into the running sums instead of
    rescanning the whole crawl log (which grows unboundedly at 10^10-URL
    scale).  Equivalent to recomputing over the full log up to float
    summation order."""
    delta = _round_delta(new_log)
    if old_stats is None or not any(
        c in old_stats.columns for c in ("sum_crawl_time",)
    ):
        return _derive_stats(delta)
    old = old_stats.select("host", *_SUM_COLS, "last_crawled")
    d = delta.select(
        F.col("host"),
        *[F.col(c).alias(f"d_{c}") for c in _SUM_COLS],
        F.col("last_crawled").alias("d_last_crawled"),
    )
    merged = old.join(d, "host", "full_outer")
    for c in _SUM_COLS:
        merged = merged.withColumn(
            c, F.coalesce(F.col(c), F.lit(0)) + F.coalesce(F.col(f"d_{c}"), F.lit(0))
        )
    merged = merged.withColumn(
        "last_crawled", F.greatest("last_crawled", "d_last_crawled")
    ).select("host", *_SUM_COLS, "last_crawled")
    return _derive_stats(merged)

