"""Snapshot catalog: atomic commit, append vs overwrite, time travel, torn writes."""

import json
import os

import pytest
from conftest import count_jobs

from adavnceseo_crawler_spark import synth
from adavnceseo_crawler_spark.catalog import SnapshotCatalog
from adavnceseo_crawler_spark.config import CrawlConfig
from adavnceseo_crawler_spark.plans import loop


def test_overwrite_and_append(tmp_catalog, spark):
    df1 = spark.createDataFrame([(1,), (2,)], "a int")
    df2 = spark.createDataFrame([(3,)], "a int")
    tmp_catalog.commit("t", df1, mode="overwrite")
    assert tmp_catalog.records("t") == 2
    tmp_catalog.commit("t", df2, mode="append")
    assert tmp_catalog.read("t").count() == 3
    # an append adds its count to the previous total
    assert tmp_catalog.records("t") == 3
    tmp_catalog.commit("t", df2, mode="overwrite")
    assert tmp_catalog.read("t").count() == 1
    assert tmp_catalog.records("t") == 1
    assert tmp_catalog.records("nope") == 0


def test_time_travel_and_rollback(tmp_catalog, spark):
    for i in range(3):
        tmp_catalog.commit("t", spark.range(i + 1), mode="overwrite", meta={"i": i})
    assert tmp_catalog.read("t", snapshot_id=0).count() == 1
    assert tmp_catalog.read("t").count() == 3
    assert tmp_catalog.records("t") == 3
    tmp_catalog.rollback("t", 1)
    assert tmp_catalog.read("t").count() == 2
    assert tmp_catalog.latest("t").meta["i"] == 1
    # the count lives in the manifest: it follows the rollback and survives
    # a fresh catalog instance reading the manifests back from disk
    assert tmp_catalog.records("t") == 2
    assert SnapshotCatalog(spark, tmp_catalog.root).records("t") == 2


def test_torn_manifest_invisible(tmp_catalog, spark):
    tmp_catalog.commit("t", spark.range(5), mode="overwrite")
    mandir = os.path.join(tmp_catalog.root, "t", "_manifests")
    with open(os.path.join(mandir, "000001.json"), "w") as f:
        f.write('{"snapshot_id": 1, "mode": "overwr')  # torn write
    assert tmp_catalog.latest("t").snapshot_id == 0
    assert tmp_catalog.read("t").count() == 5


def test_missing_table(tmp_catalog):
    assert tmp_catalog.read("nope") is None
    assert not tmp_catalog.exists("nope")


def test_commit_many_multi_table_transaction(tmp_catalog, spark):
    """commit_many: concurrent data writes, manifests renamed in one pass;
    append/overwrite semantics and per-table meta preserved."""
    tmp_catalog.commit("a", spark.range(2), mode="overwrite")
    walls = tmp_catalog.commit_many(
        [
            ("a", spark.range(3), "append", {"round": 7}),
            ("b", spark.range(5), "overwrite", {"round": 7}),
            ("c", spark.range(1), "append", None),
        ]
    )
    assert set(walls) == {"a", "b", "c"}
    assert tmp_catalog.read("a").count() == 5  # 2 + 3 appended
    assert tmp_catalog.read("b").count() == 5
    assert tmp_catalog.read("c").count() == 1
    assert tmp_catalog.latest("a").meta == {"round": 7}
    assert tmp_catalog.latest("a").snapshot_id == 1
    assert tmp_catalog.latest("b").snapshot_id == 0


def test_commit_manifest_only_no_data_dir(tmp_catalog, spark):
    """Manifest-only snapshots (the per-round checkpoint) carry meta without
    any Spark job or data dir; read() returns None; rollback still works."""
    snap = tmp_catalog.commit_manifest_only("ckpt", meta={"round": 3})
    assert snap.snapshot_id == 0 and snap.dirs == []
    assert tmp_catalog.latest("ckpt").meta["round"] == 3
    assert tmp_catalog.read("ckpt") is None
    assert tmp_catalog.records("ckpt") == 0
    # registered dirs were never counted
    tmp_catalog.commit("t", spark.range(2))
    tmp_catalog.register_external("ext", tmp_catalog.latest("t").dirs)
    assert tmp_catalog.records("ext") is None
    tmp_catalog.commit_manifest_only("ckpt", meta={"round": 4})
    assert tmp_catalog.latest("ckpt").meta["round"] == 4
    tmp_catalog.rollback("ckpt", 0)
    assert tmp_catalog.latest("ckpt").meta["round"] == 3


def test_resolve_latest_merge_on_read(tmp_catalog, spark):
    """MoR reader half: base + delta appends resolve to latest-per-key."""
    from adavnceseo_crawler_spark.catalog import resolve_latest

    base = spark.createDataFrame(
        [("k1", 1, "a"), ("k2", 1, "b")], "k string, v int, payload string"
    )
    tmp_catalog.commit("t", base, mode="overwrite")
    d1 = spark.createDataFrame([("k1", 2, "a2")], "k string, v int, payload string")
    d2 = spark.createDataFrame(
        [("k1", 3, "a3"), ("k3", 1, "c")], "k string, v int, payload string"
    )
    tmp_catalog.commit("t", d1, mode="append")
    tmp_catalog.commit("t", d2, mode="append")
    got = {
        r["k"]: (r["v"], r["payload"])
        for r in resolve_latest(tmp_catalog.read("t"), "k", "v").collect()
    }
    assert got == {"k1": (3, "a3"), "k2": (1, "b"), "k3": (1, "c")}


def test_read_frontier_tombstone_anti_join(tmp_catalog, spark):
    """MoR frontier view: base \\ consumed on (url_hash, round) — a retry
    row re-added at a later round survives its earlier tombstone."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.plans.round import read_frontier, round_ts

    def frow(rnd, url, h):
        return (rnd, url, h, "hostx", 0, None, round_ts(rnd), rnd, 0)

    base = spark.createDataFrame(
        [frow(0, "https://hostx/a", "ha"), frow(0, "https://hostx/b", "hb")],
        schemas.FRONTIER,
    )
    tmp_catalog.commit("frontier", base, mode="overwrite")
    # round 0 dequeues /a; /a fails and is retried -> re-added at round 1
    tmp_catalog.commit(
        "frontier_consumed",
        spark.createDataFrame([("ha", 0)], schemas.FRONTIER_CONSUMED),
        mode="append",
    )
    tmp_catalog.commit(
        "frontier",
        spark.createDataFrame([frow(1, "https://hostx/a", "ha")], schemas.FRONTIER),
        mode="append",
    )
    front = read_frontier(tmp_catalog)
    live = {(r["url_hash"], r["round"]) for r in front.collect()}
    assert live == {("hb", 0), ("ha", 1)}
    # the joined view keeps the table's column order
    assert front.columns == [f.name for f in schemas.FRONTIER.fields]
    # each tombstone consumed exactly one live row
    n_live = tmp_catalog.records("frontier") - tmp_catalog.records("frontier_consumed")
    assert n_live == len(live)


def test_compact_state_rewrites_the_live_view(tmp_catalog, spark):
    """Compaction after round 0's appends: the frontier base becomes the
    live view restamped to round 1, the tombstones are emptied, and
    url_metadata keeps one (the latest) row per key."""
    from adavnceseo_crawler_spark import schemas
    from adavnceseo_crawler_spark.plans.round import (
        compact_state,
        read_frontier,
        round_ts,
    )

    def frow(rnd, name, score=None):
        return (rnd, f"https://hostx/{name}", f"h{name}", "hostx", 0, score,
                round_ts(0), 0, 0)

    def mrow(name, rnd):
        return (f"h{name}", round_ts(rnd), "success", 0.5, 0.1, 100 + rnd)

    cat = tmp_catalog
    cat.commit(
        "frontier",
        spark.createDataFrame(
            [frow(0, "a"), frow(0, "b", 0.25), frow(0, "c")], schemas.FRONTIER
        ),
    )
    cat.commit(
        "url_metadata",
        spark.createDataFrame([mrow("a", 0), mrow("b", 0)], schemas.URL_METADATA),
    )
    # round 0's commit group: /a is dequeued, fails and is retried, /d is new
    cat.commit(
        "frontier_consumed",
        spark.createDataFrame([("ha", 0)], schemas.FRONTIER_CONSUMED),
        mode="append",
    )
    cat.commit(
        "frontier",
        spark.createDataFrame([frow(1, "a"), frow(1, "d")], schemas.FRONTIER),
        mode="append",
    )
    cat.commit(
        "url_metadata",
        spark.createDataFrame([mrow("a", 1)], schemas.URL_METADATA),
        mode="append",
    )
    cols = [f.name for f in schemas.FRONTIER.fields]
    live = sorted(
        tuple({**r.asDict(), "round": 1}[c] for c in cols)
        for r in read_frontier(cat).collect()
    )
    assert len(live) == 4

    walls = compact_state(cat, 0)
    assert set(walls) == {"compact.frontier", "compact.url_metadata"}
    assert cat.read("frontier").columns == cols
    assert sorted(tuple(r) for r in cat.read("frontier").collect()) == live
    assert cat.read("frontier_consumed") is None
    assert cat.records("frontier") == 4 and cat.records("frontier_consumed") == 0
    assert read_frontier(cat).count() == 4
    meta = {
        r["url_hash"]: r["content_length"]
        for r in cat.read("url_metadata").collect()
    }
    assert cat.read("url_metadata").count() == len(meta) == 2
    assert meta == {"ha": 101, "hb": 100}


def test_vacuum_and_expire_snapshots(tmp_catalog, spark):
    """vacuum removes orphan snap dirs (crashed write-behind commits);
    expire_snapshots keeps the newest manifests and only deletes data dirs
    no kept snapshot references (append snapshots share dirs)."""
    import os

    df1 = spark.createDataFrame([(1,)], "v int")
    df2 = spark.createDataFrame([(2,)], "v int")
    df3 = spark.createDataFrame([(3,)], "v int")
    tmp_catalog.commit("t", df1, mode="overwrite")   # snap 0
    tmp_catalog.commit("t", df2, mode="append")      # snap 1 (dirs 0+1)
    tmp_catalog.commit("t", df3, mode="append")      # snap 2 (dirs 0+1+2)
    tdir = tmp_catalog._tdir("t")
    # simulate a crashed unsettled write-behind commit: orphan dir, no manifest
    orphan = os.path.join(tdir, "snap-000009")
    df1.write.mode("overwrite").parquet(orphan)
    assert tmp_catalog.vacuum("t") == 1
    assert not os.path.isdir(orphan)
    assert tmp_catalog.read("t").count() == 3  # live data untouched

    # expire to the latest snapshot only: snaps 0/1 manifests go, but their
    # shared data dirs stay live through snap 2's dir list
    assert tmp_catalog.expire_snapshots("t", keep_last=1) == 0
    assert [s.snapshot_id for s in tmp_catalog.snapshots("t")] == [2]
    assert tmp_catalog.read("t").count() == 3

    # an overwrite then expire: the pre-overwrite dirs become dead
    tmp_catalog.commit("t", df1, mode="overwrite")   # snap 3 (own dir only)
    removed = tmp_catalog.expire_snapshots("t", keep_last=1)
    assert removed == 3  # snaps 0,1,2's dirs all dead now
    assert tmp_catalog.read("t").count() == 1


def test_unsettled_write_behind_is_invisible(tmp_catalog, spark):
    """A crash between commit_many_async and commit_settle must leave the
    table exactly as before: data dirs exist but no manifest references
    them, a fresh catalog reads the old snapshot, and vacuum reclaims the
    orphans.  (This is the write-behind pipeline's durability contract.)"""
    import os

    base = spark.createDataFrame([(1,), (2,)], "v int")
    tmp_catalog.commit("t", base, mode="overwrite")
    handle = tmp_catalog.commit_many_async(
        [("t", spark.createDataFrame([(3,)], "v int"), "append", {"round": 1})]
    )
    for f in handle["futures"]:  # writes land...
        f.result()
    # ...but the process "dies" before commit_settle: no manifest flip
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog

    fresh = SnapshotCatalog(spark, tmp_catalog.root)
    assert fresh.read("t").count() == 2          # old snapshot intact
    assert fresh.latest("t").snapshot_id == 0
    orphan = os.path.join(fresh._tdir("t"), "snap-000001")
    assert os.path.isdir(orphan)                 # orphaned data dir
    assert fresh.vacuum("t") == 1                # reclaimed
    assert not os.path.isdir(orphan)
    # and settling AFTER the fact on the original handle would still work in
    # a live process — but here the orphan is gone, so just re-commit
    fresh.commit("t", spark.createDataFrame([(3,)], "v int"), mode="append")
    assert fresh.read("t").count() == 3


def test_vacuum_spares_inflight_staged_dirs(tmp_catalog, spark):
    """ADVICE r3: with an UNSETTLED commit_many_async handle outstanding,
    vacuum must not delete the staged (higher-than-manifest-sid) dirs —
    settle would otherwise publish manifests pointing at removed paths."""
    tmp_catalog.commit("t", spark.createDataFrame([(1,)], "v int"), mode="overwrite")
    handle = tmp_catalog.commit_many_async(
        [("t", spark.createDataFrame([(2,)], "v int"), "append", None)]
    )
    for f in handle["futures"]:
        f.result()
    staged = os.path.join(tmp_catalog._tdir("t"), "snap-000001")
    assert os.path.isdir(staged)
    assert tmp_catalog.vacuum("t") == 0          # refused: handle unsettled
    assert os.path.isdir(staged)
    tmp_catalog.commit_settle(handle)
    assert tmp_catalog.read("t").count() == 2    # settle still valid
    # handle spent -> higher-sid dirs are orphans again (none here)
    assert tmp_catalog.vacuum("t") == 0


def test_vacuum_path_spelling_safe(tmp_catalog, spark, tmp_path):
    """ADVICE r3 (medium): opening the catalog under a different spelling of
    the same warehouse root must not make live snap dirs read as orphans."""
    from adavnceseo_crawler_spark.catalog import SnapshotCatalog

    tmp_catalog.commit("t", spark.createDataFrame([(1,)], "v int"), mode="overwrite")
    tmp_catalog.commit("t", spark.createDataFrame([(2,)], "v int"), mode="append")
    # same root, different spelling: trailing '/..'-style indirection
    alias_root = os.path.join(tmp_catalog.root, "..", os.path.basename(tmp_catalog.root))
    alias = SnapshotCatalog(spark, alias_root)
    assert alias.vacuum("t") == 0                # nothing falsely orphaned
    assert tmp_catalog.read("t").count() == 2
    # symlinked root spelling
    link = str(tmp_path / "wh_link")
    os.symlink(tmp_catalog.root, link)
    assert SnapshotCatalog(spark, link).vacuum("t") == 0
    assert tmp_catalog.read("t").count() == 2


@pytest.mark.parametrize("use_bloom", [False, True])
def test_crawl_tables_open_without_a_job(spark, tmp_path, use_bloom):
    """Every table a bootstrap plus a 2-round crawl commits carries its
    schema in the manifest: reading it submits no Spark job and gives the
    schema parquet inference would.  A table registered without a write
    still reads, by inference."""
    cfg = CrawlConfig(
        politeness_budget=3, batch_size=30, compact_every=3,
        use_bloom=use_bloom, bloom_capacity=100_000, bloom_buckets=8,
    )
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    loop.bootstrap(
        spark, cat, cfg,
        synth.gen_seeds(spark, 200, 6),
        synth.gen_pages(spark, 200, 6, partitions=4),
        synth.gen_robots(spark, 6),
    )
    loop.run_crawl(spark, cat, cfg, max_rounds=2)

    written = [t for t in loop.TABLES if cat.exists(t) and cat.latest(t).dirs]
    assert set(written) == set(loop.TABLES) - (
        set() if use_bloom else {"bloom_shards"}
    )
    for t in written:
        df, jobs = count_jobs(spark, lambda: cat.read(t))
        assert jobs == 0, t
        assert df.schema == spark.read.parquet(*cat.latest(t).dirs).schema, t

    cat.register_external("ext", cat.latest("crawl_log").dirs)
    ext, jobs = count_jobs(spark, lambda: cat.read("ext"))
    assert jobs >= 1  # schema inference: the job the manifest schema spares
    assert ext.schema == cat.read("crawl_log").schema
    assert ext.count() == cat.read("crawl_log").count() > 0
