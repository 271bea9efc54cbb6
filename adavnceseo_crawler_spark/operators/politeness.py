"""Per-host politeness budget + priority dequeue (F4 + W1).

The reference enforces a wall-clock gap per host while dequeuing score-ordered
batches (url_frontier.py:76-114, settings.py:18).  Adopted batch semantics
(SURVEY.md §0): at most ``budget`` URLs per host per round, highest score
first, ties broken by URL ascending; then a global top-``batch_size`` cut.

Scale design (SURVEY.md §4.1, north_rule "skew handled explicitly"): a naive
``Window.partitionBy(host)`` puts every URL of a hot host in one task.  With
Zipf hosts the top host can hold a large fraction of the frontier, so the
per-key top-k (``topk``) runs in two stages:

  stage 1: top-``k`` per (keys, salt) — salt = xxhash64(url) % S spreads
           one hot key over S tasks; keeps ≤ S×k rows per key;
  stage 2: exact top-``k`` per key over the ≤ S×k survivors.

The result is identical to the single-stage window (top-k is decomposable),
but the heavy first pass is skew-free.  The global cut is a
TakeOrderedAndProject (no full sort).

Layering: ``topk`` is the only window; ``trap_template_cap`` runs it per
(host, url-template) cell, ``eligible`` composes the trap guard with the
per-host budget, and the two schedulers add the global cut — lazily
(``schedule_batch``) or counted (``schedule_batch_counted``).  Rows they
do not schedule are not returned: they stay in the frontier, whose live
view is ``plans.round.read_frontier``'s alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .urlmine import url_template


def topk(
    df: DataFrame,
    keys: tuple[str, ...],
    k: int,
    order: list,
    salt_buckets: int = 8,
) -> DataFrame:
    """Salted two-stage top-``k`` rows per ``keys`` under ``order``, with
    ``df``'s columns."""
    cols = df.columns
    stages = [(keys, "_rn2")]
    if salt_buckets > 1:
        df = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
        )
        stages.insert(0, ((*keys, "_salt"), "_rn1"))
    for part, rn in stages:
        w = Window.partitionBy(*part).orderBy(*order)
        df = (
            df.withColumn(rn, F.row_number().over(w))
            .filter(F.col(rn) <= k)
            .select(*cols)
        )
    return df


def trap_template_cap(
    df: DataFrame,
    threshold: int,
    cap: int,
    order: list,
    salt_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Crawler-trap guard (urlmine.mine_url_templates wired into the
    scheduler): cells of more than ``threshold`` URLs sharing one
    (host, url-template) are generated URL spaces — calendars, faceted
    search, session ids — and admit only their top-``cap`` rows per round;
    every other row passes untouched.  Runs BEFORE the politeness top-k so
    a trap host's budget goes to its non-trap URLs instead of being eaten
    by the capped cell (the round-level test's invariant).

    Scale shape: the cell census ``groupBy(host, template)`` is the SAME
    aggregation mine_url_templates runs (count(1) == count_distinct(url)
    here — frontier rows are unique by url_hash), map-side combinable, so
    hot cells partially aggregate before the exchange; the host-level
    counts the politeness stage needs are a ROLLUP of the cell counts
    (sum over the one-row-per-cell intermediate), so the corpus is
    exchanged ONCE for both censuses (plan-pinned in
    tests/test_trap_recrawl.py).  The flagged-cell set is frequency-bounded
    (≤ N/threshold rows) and broadcast; only flagged cells' rows pay the
    ``topk`` window, keyed by (host, template).

    Returns (kept, host_counts): rows the cap holds back are not returned
    — they stay in the frontier (re-considered next round, the
    politeness-deferral semantics); ``host_counts`` is the (host, _n)
    rollup for ``eligible`` to reuse."""
    with_t = df.withColumn("_tmpl", url_template(F.col("url")))
    cell_counts = with_t.groupBy("host", "_tmpl").agg(
        F.count(F.lit(1)).alias("_cn")
    )
    host_counts = cell_counts.groupBy("host").agg(F.sum("_cn").alias("_n"))
    trap_cells = F.broadcast(
        cell_counts.filter(F.col("_cn") > threshold).select("host", "_tmpl")
    )
    cols = df.columns
    clean = with_t.join(trap_cells, ["host", "_tmpl"], "left_anti").select(*cols)
    trapped = with_t.join(trap_cells, ["host", "_tmpl"], "left_semi")
    admitted = topk(trapped, ("host", "_tmpl"), cap, order, salt_buckets)
    return clean.unionByName(admitted.select(*cols)), host_counts


def eligible(
    df: DataFrame,
    budget: int,
    order: list,
    salt_buckets: int = 8,
    trap_threshold: int | None = None,
    trap_cap: int = 5,
) -> DataFrame:
    """Rows that pass the trap guard (when ``trap_threshold`` is set) and
    the per-host budget, before any global cut.

    BUDGET CAP ELISION: a host whose row count is ≤ budget keeps all its
    rows, so only rows of OVER-budget hosts go through the window sort.  On
    a Zipf frontier the over-budget set is the short head (at the 4M-page
    scaling shape: ~150 of 8000 hosts holding ~half the rows), so roughly
    half the shuffle-sort work vanishes while the row set stays exactly the
    per-host window top-k.  The host-count aggregate is map-side combinable
    with one output row per host; AQE turns the anti/semi probes into
    broadcasts when that output is small (no explicit hint — at web scale
    the over-budget head may itself be too large to broadcast).  With the
    trap guard on, the counts are the cell-census rollup, taken PRE-cap: a
    host the cap pushes back under budget still takes the window path,
    where top-k of ≤ budget rows is the identity."""
    if trap_threshold is not None:
        df, counts = trap_template_cap(
            df, trap_threshold, trap_cap, order, salt_buckets
        )
    else:
        counts = df.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
    over_hosts = counts.filter(F.col("_n") > budget).select("host")
    kept = topk(
        df.join(over_hosts, "host", "left_semi"), ("host",), budget, order,
        salt_buckets,
    )
    return df.join(over_hosts, "host", "left_anti").unionByName(kept)


def _order_for(mode: str) -> list:
    if mode == "fifo":
        return [F.asc("seq"), F.asc("url")]
    return [F.desc("score"), F.asc("url")]


def schedule_batch(
    df: DataFrame,
    budget: int,
    batch_size: int,
    salt_buckets: int = 8,
    mode: str = "priority",
    trap_threshold: int | None = None,
    trap_cap: int = 5,
) -> DataFrame:
    """Politeness top-k then a global cut — the fully LAZY scheduler (no
    counts, no caches; one job at the caller's action).  Same row set as
    schedule_batch_counted's ``scheduled``.

    mode='priority' (default): score desc, url asc — the intended dequeue
    (url_frontier.py:82-88).  mode='fifo': seq asc, url asc — the live-path
    LPOP special case (url_frontier.py:240-252, SURVEY.md S3)."""
    order = _order_for(mode)
    elig = eligible(df, budget, order, salt_buckets, trap_threshold, trap_cap)
    return elig.orderBy(*order).limit(batch_size)


def schedule_batch_counted(
    df: DataFrame,
    budget: int,
    batch_size: int,
    salt_buckets: int = 8,
    mode: str = "priority",
    trap_threshold: int | None = None,
    trap_cap: int = 5,
) -> tuple[DataFrame, int, list[DataFrame]]:
    """schedule_batch that skips the global cut when it cannot bind.

    ``orderBy().limit(batch_size)`` plans a single-partition global sort
    (measured 14-20 s/round at the 4M-page scaling shape); it runs only
    when the eligible count (needed by the caller anyway) exceeds the cap.

    Returns (scheduled, n_scheduled, caches): ``caches`` are the frames
    for the caller to unpersist at round end.  ``trap_threshold``
    (CrawlConfig.trap_template_threshold) enables the crawler-trap guard
    (see trap_template_cap)."""
    order = _order_for(mode)
    elig = eligible(
        df, budget, order, salt_buckets, trap_threshold, trap_cap
    ).cache()
    n_eligible = elig.count()
    if n_eligible <= batch_size:
        return elig, n_eligible, [elig]
    scheduled = elig.orderBy(*order).limit(batch_size).cache()
    scheduled.count()
    return scheduled, batch_size, [elig, scheduled]
