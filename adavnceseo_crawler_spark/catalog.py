"""Snapshot-committed Parquet tables (Iceberg-compatible semantics).

The sandbox has no Iceberg/Delta jars, so this module provides the subset of
Iceberg semantics the crawl loop needs — atomic snapshot commit, append vs
overwrite, time travel, resume-from-latest — over plain partitioned Parquet:

* data for each commit is written to ``<root>/<table>/snap-NNNNNN/`` first;
* the commit becomes visible only when ``<root>/<table>/_manifests/NNNNNN.json``
  appears, written via tempfile + ``os.rename`` (atomic on POSIX);
* a manifest lists **all** live data dirs for that snapshot (append = previous
  dirs + new dir; overwrite = new dir only), so readers never see partial
  writes and a killed job resumes from the last complete manifest;
* a manifest also carries the schema of the frame it wrote (as Iceberg's
  table metadata does), so ``read`` opens a table without the Spark job that
  parquet schema inference costs.  A snapshot registered without a write
  (``register_external``) or written before manifests carried the schema is
  read by inference;
* a manifest records the table's row count (``records``, Iceberg's
  ``total-records`` snapshot summary), observed on the write that runs
  anyway: an overwrite stores its own count, an append adds its count to the
  previous total.  Callers read live sizes from here (``records``) instead of
  counting a table or carrying the number alongside it.

On a real cluster, swap this for the Iceberg catalog
(``spark.sql.catalog.* = org.apache.iceberg.spark.SparkCatalog``) — the crawl
loop only uses commit/read/latest semantics shared by both.

The reference has no durable state at all (Bloom filter is in-RAM and lost on
restart, url_frontier.py:24; Redis is flushed on init, url_frontier.py:41);
checkpointed tables are what make the crawl resumable per the north_rule.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    snapshot_id: int
    mode: str
    dirs: list[str]
    meta: dict[str, Any]
    # the written frame's StructType as JSON data; None for a snapshot
    # registered without a write (register_external, manifest-only) or a
    # manifest written before tables carried their schema
    schema: dict[str, Any] | None = None
    # total row count of the snapshot's dirs; 0 for a manifest-only
    # snapshot, None for register_external or a manifest written before
    # snapshots recorded their count
    records: int | None = None


class SnapshotCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # outstanding commit_many_async handles not yet settled; vacuum
        # refuses to touch higher-than-manifest snap dirs while nonzero
        self._unsettled = 0
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _mandir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifests")

    # -- snapshot listing ------------------------------------------------------
    def snapshots(self, table: str) -> list[Snapshot]:
        mandir = self._mandir(table)
        if not os.path.isdir(mandir):
            return []
        out = []
        for f in sorted(os.listdir(mandir)):
            if not f.endswith(".json"):
                continue
            try:
                with open(os.path.join(mandir, f)) as fh:
                    d = json.load(fh)
                out.append(
                    Snapshot(
                        d["snapshot_id"], d["mode"], d["dirs"],
                        d.get("meta", {}), d.get("schema"), d.get("records"),
                    )
                )
            except (json.JSONDecodeError, KeyError, OSError):
                continue  # torn/partial manifest writes are invisible
        return out

    def latest(self, table: str) -> Snapshot | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    # -- commit ----------------------------------------------------------------
    def _stage(
        self, table: str, df: DataFrame, mode: str, meta: dict[str, Any] | None
    ) -> tuple[Snapshot, float]:
        """Write ``df`` to the table's next ``snap-NNNNNN`` dir and return the
        snapshot it WOULD publish, plus the data-write wall seconds.  Nothing
        is visible until ``_write_manifest`` runs on the returned snapshot.
        The written rows are counted by an observation on the write itself
        (no extra job)."""
        assert mode in ("overwrite", "append")
        t0 = time.monotonic()
        prev = self.latest(table)
        sid = (prev.snapshot_id + 1) if prev else 0
        data_dir = os.path.join(self._tdir(table), f"snap-{sid:06d}")
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(data_dir)
        dirs, records = [data_dir], int(obs.get["n"])
        if mode == "append" and prev:
            dirs = prev.dirs + dirs
            records = None if prev.records is None else prev.records + records
        snap = Snapshot(sid, mode, dirs, meta or {}, df.schema.jsonValue(), records)
        return snap, round(time.monotonic() - t0, 3)

    def commit(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        meta: dict[str, Any] | None = None,
    ) -> Snapshot:
        snap, _ = self._stage(table, df, mode, meta)
        self._write_manifest(table, snap)
        return snap

    def commit_many(
        self, commits: list[tuple[str, DataFrame, str, dict[str, Any] | None]]
    ) -> dict[str, float]:
        """Multi-table transaction (Iceberg's multi-table commit shape): all
        data dirs are written first as CONCURRENT Spark jobs, then every
        manifest is renamed in one driver-side pass — the round pays a single
        commit barrier, and no table's new snapshot becomes visible until all
        data writes have landed.  (Visibility is still per-table-atomic; the
        cross-table point of consistency remains the checkpoint manifest, as
        before.)  Returns per-table data-write wall seconds for the scaling
        decomposition."""
        return self.commit_settle(self.commit_many_async(commits))

    def commit_many_async(
        self,
        commits: list[tuple[str, DataFrame, str, dict[str, Any] | None]],
        unpersist: list[DataFrame] | None = None,
    ) -> dict:
        """Write-behind half of the round's commit pipeline: start the data
        writes as background Spark jobs and return immediately with a handle.
        NOTHING becomes visible until ``commit_settle`` writes the manifests —
        a crash before settle leaves only orphaned snap dirs that no manifest
        references (invisible to readers, clobbered on replay by the
        overwrite-mode data write).

        Used by plans/round.py for the tables the next round does not read
        until its dedup stage (crawl_log, pages, url_seen, bloom_shards,
        parsed, round_metrics): their writes overlap the next round's
        schedule stage, which is driver-latency-bound and leaves executor
        cores idle — the commit barrier's core-hungry jobs fill exactly that
        gap.  The tables are disjoint from any concurrently committed sync
        table, so the snapshot ids the writes pick (and with them the
        eventual checkpoint meta) are already determined.  ``unpersist``:
        cached frames the writes read; released at settle."""
        pool = ThreadPoolExecutor(max_workers=len(commits))
        futures = [pool.submit(self._stage, *c) for c in commits]
        # every task is already running (max_workers == len(commits)), so the
        # pool can stop accepting work now; its threads then exit as tasks
        # finish even if settle is never reached (exception mid-round) — no
        # leaked executor.  commit_settle's shutdown(wait=True) still joins.
        pool.shutdown(wait=False)
        self._unsettled += 1
        return {
            "pool": pool,
            "tables": [c[0] for c in commits],
            "futures": futures,
            "unpersist": list(unpersist or []),
        }

    def commit_settle(self, handle: dict) -> dict[str, float]:
        """Barrier for a commit_many_async handle: wait for the data writes,
        make every staged snapshot visible (one manifest rename each), then
        release the caches the writes were reading.  Returns per-table
        data-write wall seconds.  Must run before anything reads the deferred
        tables — plans/round.py places it at the start of the next round's
        dedup stage (the first url_seen / bloom_shards read)."""
        try:
            try:
                # re-raises a failed write before any manifest lands
                staged = [f.result() for f in handle["futures"]]
            finally:
                # join writer threads even when a write failed, so no thread
                # outlives the (aborted) settle; either way the handle is spent
                handle["pool"].shutdown(wait=True)
            for table, (snap, _) in zip(handle["tables"], staged):
                self._write_manifest(table, snap)
        finally:
            # Decrement only AFTER the staged manifests are written (or the
            # settle aborted): vacuum() treats _unsettled==0 as "no staged
            # snap dirs exist beyond latest_sid", so dropping the rail before
            # the manifests publish would let a concurrent vacuum delete the
            # fully-written staged dirs the manifests are about to point at.
            self._unsettled = max(0, self._unsettled - 1)
        for df in handle["unpersist"]:
            df.unpersist()
        return {table: wall for table, (_, wall) in zip(handle["tables"], staged)}

    def commit_manifest_only(
        self, table: str, meta: dict[str, Any] | None = None
    ) -> Snapshot:
        """Commit a data-less snapshot carrying only metadata — no Spark job.
        Used for the per-round checkpoint, whose payload lives entirely in
        the manifest's ``meta`` (round number + table snapshot ids), and to
        empty a table: ``read`` returns None for it, ``records`` 0."""
        return self.register_external(table, [], meta)

    def register_external(
        self, table: str, dirs: list[str], meta: dict[str, Any] | None = None
    ) -> Snapshot:
        """Register existing parquet dirs as an overwrite snapshot WITHOUT
        rewriting the data (Iceberg's ``add_files`` / external-location
        pattern).  Used for large immutable inputs shared across runs.  The
        dirs' row count is unknown (``records`` None); no dirs hold 0 rows."""
        prev = self.latest(table)
        sid = (prev.snapshot_id + 1) if prev else 0
        records = None if dirs else 0
        snap = Snapshot(sid, "overwrite", list(dirs), meta or {}, records=records)
        self._write_manifest(table, snap)
        return snap

    def _write_manifest(self, table: str, snap: Snapshot) -> None:
        mandir = self._mandir(table)
        os.makedirs(mandir, exist_ok=True)
        payload = json.dumps(
            {
                "snapshot_id": snap.snapshot_id,
                "mode": snap.mode,
                "dirs": snap.dirs,
                "meta": snap.meta,
                "schema": snap.schema,
                "records": snap.records,
            },
            indent=1,
        )
        fd, tmp = tempfile.mkstemp(dir=mandir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        os.rename(tmp, os.path.join(mandir, f"{snap.snapshot_id:06d}.json"))

    # -- read ------------------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        """The snapshot's rows, or None for an empty table: one with no
        snapshot yet or whose snapshot lists no data dir (manifest-only).
        A snapshot that carries its schema opens without a Spark job; one
        without (register_external) pays parquet schema inference."""
        if snapshot_id is None:
            snap = self.latest(table)
        else:
            snap = next(
                (s for s in self.snapshots(table) if s.snapshot_id == snapshot_id),
                None,
            )
        if snap is None or not snap.dirs:
            return None
        reader = self.spark.read
        if snap.schema is not None:
            reader = reader.schema(StructType.fromJson(snap.schema))
        return reader.parquet(*snap.dirs)

    def records(self, table: str) -> int | None:
        """Row count of the table's latest snapshot, read from its manifest
        (no job): 0 for a table with no snapshot or an emptied one, None when
        the manifest does not record it (register_external, manifests written
        before snapshots recorded their count)."""
        snap = self.latest(table)
        return 0 if snap is None else snap.records

    def exists(self, table: str) -> bool:
        return self.latest(table) is not None

    # -- maintenance -------------------------------------------------------------
    def expire_snapshots(self, table: str, keep_last: int = 2) -> int:
        """Iceberg expire_snapshots: drop all but the newest ``keep_last``
        manifests, then delete data dirs no kept snapshot references.
        Append snapshots share dirs with their successors, so liveness is
        computed over the KEPT manifests' dir lists."""
        snaps = self.snapshots(table)
        if len(snaps) <= keep_last:
            return 0
        kept = snaps[-keep_last:]
        live = {d for s in kept for d in s.dirs}
        mandir = self._mandir(table)
        for s in snaps[:-keep_last]:
            try:
                os.remove(os.path.join(mandir, f"{s.snapshot_id:06d}.json"))
            except OSError:
                pass
        return self.vacuum(table, _live=live)

    def vacuum(self, table: str, _live: set[str] | None = None) -> int:
        """Iceberg remove_orphan_files: delete snap-* data dirs that no
        manifest references — crashed write-behind commits (commit_many_async
        without settle) and rolled-back rounds leave exactly these.

        Safety rails (both destructive-maintenance hazards):
        * liveness compares ``os.path.realpath`` on both sides, so opening
          the catalog under a different spelling of the same warehouse root
          (relative vs absolute, ``./`` prefix, symlink, other cwd) can never
          make live dirs read as orphans;
        * while THIS catalog instance has an unsettled commit_many_async
          handle, dirs whose snapshot id is newer than the latest manifest
          are skipped — they are that handle's staged writes, and deleting
          them would let the settle publish manifests pointing at removed
          paths.  With no unsettled handle, higher-sid dirs are true crash
          orphans and are reclaimed.  (Cross-process: only run vacuum when
          no OTHER process is mid-pipeline on the same warehouse — staged
          dirs of a foreign writer are indistinguishable from orphans.)"""
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return 0
        if _live is None:
            _live = {d for s in self.snapshots(table) for d in s.dirs}
        live_real = {os.path.realpath(d) for d in _live}
        latest = self.latest(table)
        latest_sid = latest.snapshot_id if latest else -1
        removed = 0
        for name in os.listdir(tdir):
            path = os.path.join(tdir, name)
            if not (name.startswith("snap-") and os.path.isdir(path)):
                continue
            try:
                sid = int(name[len("snap-"):])
            except ValueError:
                continue
            if sid > latest_sid and self._unsettled > 0:
                continue  # in-flight (staged, pre-settle) — not an orphan
            if os.path.realpath(path) in live_real:
                continue
            shutil.rmtree(path, ignore_errors=True)
            removed += 1
        return removed

    def rollback(self, table: str, snapshot_id: int) -> None:
        """Drop manifests newer than snapshot_id (time travel back)."""
        mandir = self._mandir(table)
        for f in os.listdir(mandir):
            if f.endswith(".json") and int(f[:-5]) > snapshot_id:
                os.remove(os.path.join(mandir, f))

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)


def resolve_latest(df: DataFrame, key: str, version: str) -> DataFrame:
    """Merge-on-read resolution: latest row per ``key`` by ``version`` desc.

    Iceberg/Delta MERGE with merge-on-read writes O(delta) data files per
    commit and lets READERS reconcile row versions, with a periodic compaction
    rewriting the base; this is that reader half for the plain-Parquet
    catalog.  Requires ``version`` to be unique per key across live rows
    (true for url_metadata: one row per url per round, rounds have distinct
    timestamps)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc_nulls_last(version))
    return (
        df.withColumn("_v_rn", F.row_number().over(w))
        .filter(F.col("_v_rn") == 1)
        .drop("_v_rn")
    )

