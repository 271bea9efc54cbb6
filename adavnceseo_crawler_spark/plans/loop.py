"""Multi-round crawl loop with checkpoint/resume (M3, north_rule).

``bootstrap`` seeds the catalog (web, robots, frontier and url_seen round 0,
plus the Bloom shards; the other state tables stay absent until round 0
writes them); ``run_crawl`` executes rounds until the frontier drains or
``max_rounds`` is hit, committing a checkpoint manifest after each round.
A killed job resumes from the last complete checkpoint: every table the next
round reads was committed before the checkpoint, and rounds are deterministic
functions of committed state, so the resumed run reproduces identical
downstream ordering (tested in tests/test_resume.py).

The reference, by contrast, cannot resume at all: its Bloom filter is
in-process RAM (url_frontier.py:24) and Redis is flushed on startup
(url_frontier.py:41).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..catalog import SnapshotCatalog
from ..config import CrawlConfig
from ..functions.urls import canonicalize_url_udf, normalize_scheme, with_url_parts
from ..operators import bloom as bloomops
from .round import round_ts, run_round


def seed_frontier(seeds: DataFrame) -> DataFrame:
    """S1/F1/U12: scheme-normalize, canonicalize, dedup seed URLs (main.py:84-108)."""
    now = round_ts(0)
    canon = (
        seeds.select(normalize_scheme(F.col("url")).alias("url"))
        .select(canonicalize_url_udf(F.col("url")).alias("url"))
        .filter(F.col("url").isNotNull())
        .distinct()
    )
    canon = with_url_parts(canon)
    return canon.select(
        F.lit(0).alias("round"),
        "url",
        "url_hash",
        "host",
        F.lit(0).alias("depth"),
        F.lit(None).cast("double").alias("score"),
        F.lit(now).alias("discovered_ts"),
        F.lit(0).cast("long").alias("seq"),
        F.lit(0).alias("retries"),
    )


def bootstrap(
    spark: SparkSession,
    cat: SnapshotCatalog,
    cfg: CrawlConfig,
    seeds: DataFrame,
    web: DataFrame | None,
    robots: DataFrame,
    web_external_dir: str | None = None,
) -> None:
    if web_external_dir is not None:
        # big immutable web inputs are registered in place (Iceberg
        # add_files), not rewritten — bench runs share one generated copy
        cat.register_external("web", [web_external_dir])
    elif web is not None:  # http fetch mode reads no web table
        cat.commit("web", web, mode="overwrite")
    cat.commit("robots", robots, mode="overwrite")
    # the frontier manifest records the seed count: round 0 reads its urls_in
    # from there and runs no frontier.count()
    cat.commit(
        "frontier", seed_frontier(seeds), mode="overwrite", meta={"round": 0}
    )
    seen0 = cat.read("frontier").select(
        "url_hash", "url", F.lit(0).alias("round")
    )
    cat.commit("url_seen", seen0, mode="append", meta={"round": 0})
    if cfg.use_bloom:
        params = bloomops.BloomParams(
            capacity=cfg.bloom_capacity, buckets=cfg.bloom_buckets
        )
        shards0 = bloomops.empty_shards(spark, params)
        seeds_cand = cat.read("frontier").select("url", "url_hash", "host", "depth")
        _, shards1, caches = bloomops.filter_and_update(
            seeds_cand, shards0.select("bucket", "bitset", "n_items"), params
        )
        cat.commit(
            "bloom_shards",
            shards1.withColumn("round", F.lit(0)),
            mode="overwrite",
            meta={"round": 0},
        )
        for df in caches:
            df.unpersist()
    _checkpoint(spark, cat, -1, {})


TABLES = (
    "web", "robots", "frontier", "frontier_consumed", "url_seen",
    "bloom_shards", "url_metadata", "domain_stats", "crawl_log", "pages",
    "parsed", "round_metrics",
)

# external-input tables: snapshots are checkpoint-RECORDED (provenance) but
# never rolled back — they model the world outside the crawler (the
# synthetic web standing in for live HTTP, the robots corpus), which
# legitimately changes between sessions; crash-replay consistency only
# requires the engine's OWN state to rewind.  A replayed round reading a
# newer web is exactly a real crawler re-fetching a page that changed.
INPUT_TABLES = frozenset({"web", "robots"})


def _checkpoint(spark: SparkSession, cat: SnapshotCatalog, round_no: int, stats: dict):
    snapshots = {
        t: cat.latest(t).snapshot_id for t in TABLES if cat.latest(t) is not None
    }
    # manifest-only commit: the checkpoint payload is pure metadata (round
    # number + snapshot ids), so writing it as a 1-row parquet table was a
    # whole Spark job of fixed per-round cost for nothing — nobody ever reads
    # the data, only the manifest meta (last_completed_round, rollback)
    meta = {"round": round_no, "snapshots": snapshots, "stats": stats}
    cat.commit_manifest_only("checkpoint", meta=meta)


def last_completed_round(cat: SnapshotCatalog) -> int:
    snap = cat.latest("checkpoint")
    if snap is None:
        raise RuntimeError("catalog not bootstrapped (no checkpoint table)")
    return int(snap.meta["round"])


def rollback_to_checkpoint(spark: SparkSession, cat: SnapshotCatalog) -> None:
    """Discard table snapshots newer than the last completed checkpoint — a
    crash mid-round leaves some tables committed for round r+1 while the
    checkpoint still says r; replaying round r+1 must start from r's state."""
    snap = cat.latest("checkpoint")
    if snap is None:
        return
    snapshots = snap.meta.get("snapshots", {})
    for table, sid in snapshots.items():
        if table not in INPUT_TABLES and cat.latest(table) is not None:
            cat.rollback(table, int(sid))
    # tables with NO snapshot at this checkpoint (e.g. pages/parsed/
    # round_metrics before their first round) must be emptied entirely:
    # a crash after their round-(r+1) append would otherwise leave data
    # that the replay appends again (duplicate rows)
    for table in TABLES:
        if (
            table not in snapshots
            and table not in INPUT_TABLES
            and cat.latest(table) is not None
        ):
            cat.rollback(table, -1)


def run_crawl(
    spark: SparkSession,
    cat: SnapshotCatalog,
    cfg: CrawlConfig,
    max_rounds: int | None = None,
) -> list[dict]:
    """Run rounds from the last checkpoint until drained or max_rounds."""
    max_rounds = max_rounds if max_rounds is not None else cfg.max_rounds
    rollback_to_checkpoint(spark, cat)
    start = last_completed_round(cat) + 1
    stats = []
    # write-behind pipeline, one round deep: round r's bulky appends flush
    # while round r+1's schedule stage runs; round r's CHECKPOINT is written
    # only at settle (inside round r+1, before the first deferred-table
    # read), so a crash anywhere before that replays round r from the r-1
    # checkpoint — the unsettled writes were never manifest-visible
    pending: tuple | None = None  # (round_no, stats_dict, handle)

    def _settle() -> None:
        nonlocal pending
        if pending is None:
            return
        p_round, p_stats, handle = pending
        p_stats["deferred_commit_walls"] = cat.commit_settle(handle)
        _checkpoint(spark, cat, p_round, p_stats)
        pending = None

    r = start
    while r < max_rounds:
        s = run_round(spark, cat, cfg, r, on_barrier=_settle)
        if s.get("done"):
            # refresh mode (cfg.recrawl_every): a drained frontier is the
            # normal end-state of a bounded synthetic web, but a production
            # crawl then switches from discovery to freshness re-crawl —
            # revive the frontier with the Cho–G-M re-enqueue and re-run
            # this round.  Settle first: crawl_log is a deferred table.
            if cfg.recrawl_every:
                _settle()
                if _recrawl_revive(spark, cat, cfg, r) > 0:
                    continue
            break
        handle = s.pop("pending", None)
        stats.append(s)
        if handle is None:
            _checkpoint(spark, cat, r, s)
        else:
            pending = (r, s, handle)
        r += 1
    _settle()
    return stats


def _recrawl_revive(spark, cat, cfg, round_no: int) -> int:
    """Append Cho–G-M re-enqueue rows for ``round_no`` to a drained
    frontier; returns the number of revived rows (0 = genuinely done).
    Crash-safe: the append lands after the last checkpoint, so a crash
    before the revived round completes rolls it back and the next run
    re-revives deterministically."""
    from .round import recrawl_rows_for, round_ts

    rows = recrawl_rows_for(cat, cfg, round_ts(round_no), round_no)
    if rows is None:
        return 0
    rows = rows.cache()
    n = rows.count()
    if n:
        cat.commit(
            "frontier", rows.select([f.name for f in schemas.FRONTIER.fields]),
            mode="append", meta={"round": round_no, "revived": n},
        )
    rows.unpersist()
    return n
