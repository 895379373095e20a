"""Snapshot-committed state tables over Parquet (Iceberg-shaped fallback).

The reference checkpoints progress in Redis (frozen ``crawl_list_{task}``
lists reloaded on restart, ``nature_protocol_crawl.py:67-88``; counters in
``task_count_{task}`` hashes). The engine's state tables are instead
snapshot-committed: every wave produces an atomic, immutable snapshot with a
manifest, and restart = read the latest manifest and continue.

This module is the catalog abstraction (SURVEY.md §7.3 hard part 5): in this
sandbox there are no Iceberg jars, so snapshots are Parquet directories plus
JSON manifests with an atomically renamed ``_LATEST`` pointer — the same
commit protocol shape (write files -> write manifest -> swing pointer) that
Iceberg implements. On a cluster, replace SnapshotStore with an Iceberg
catalog: ``commit(mode='append')`` becomes an append snapshot,
``mode='replace'`` an overwrite, and readers use time travel.

Three table modes:
* append — read(id) unions every delta up to id (the ``seen`` set: written
  once, never rewritten; 16 B/row at 10^10 scale).
* replace — read(id) sees only snapshot id (full rewrite; used for the
  bootstrap base and for compaction).
* merge — the Iceberg ``MERGE INTO`` emulation: each snapshot holds only
  the CHANGED/NEW rows keyed by ``merge_key``; the reader reconciles
  base-replace + merge deltas with last-writer-wins per key. A wave that
  flips k statuses and discovers m URLs writes O(k + m) rows, not the
  whole frontier (the round-1 full rewrite per wave). ``compact()``
  rewrites the reconciled state as a new replace base so the reader's
  per-key window never folds more than ``compact_every`` deltas.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        # table -> schema of this store's last commit to it, in memory
        # only: a read passes it to the Parquet reader instead of paying a
        # schema-inference job over the snapshot files (the reader makes
        # every field nullable, as inference would). Tables not yet
        # committed through this instance (a resumed run) are inferred.
        self._schemas: dict[str, StructType] = {}

    # ------------------------------------------------------------ paths ----
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _sdir(self, table: str, sid: int) -> str:
        return os.path.join(self._tdir(table), f"s{sid:06d}")

    def _manifest_path(self, table: str, sid: int) -> str:
        return os.path.join(self._tdir(table), f"s{sid:06d}.json")

    # ---------------------------------------------------------- catalog ----
    def snapshots(self, table: str) -> list[dict]:
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return []
        out = []
        for name in sorted(os.listdir(tdir)):
            if name.endswith(".json") and name.startswith("s"):
                with open(os.path.join(tdir, name)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda m: m["id"])

    def latest(self, table: str) -> dict | None:
        ptr = os.path.join(self._tdir(table), "_LATEST")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            sid = int(f.read().strip())
        with open(self._manifest_path(table, sid)) as f:
            return json.load(f)

    # ----------------------------------------------------------- commit ----
    def commit(
        self,
        table: str,
        df: DataFrame,
        mode: str = "append",
        wave: int | None = None,
        meta: dict | None = None,
        merge_key: list[str] | None = None,
    ) -> int:
        """Atomic snapshot commit: data dir -> manifest -> pointer rename.

        ``mode='merge'`` requires ``merge_key``: the snapshot carries only
        changed/new rows; readers reconcile by key, last snapshot wins.
        """
        if mode not in ("append", "replace", "merge"):
            raise ValueError(f"unknown snapshot mode {mode!r}")
        if (merge_key is not None) != (mode == "merge"):
            raise ValueError("merge_key is required iff mode='merge'")
        prev = self.latest(table)
        sid = (prev["id"] + 1) if prev else 0
        data_dir = self._sdir(table, sid)
        df.write.mode("overwrite").parquet(data_dir)
        self._schemas[table] = df.schema
        manifest = {
            "id": sid,
            "table": table,
            "mode": mode,
            "wave": wave,
            "parent": prev["id"] if prev else None,
            "meta": meta or {},
        }
        if merge_key is not None:
            manifest["merge_key"] = merge_key
        with open(self._manifest_path(table, sid), "w") as f:
            json.dump(manifest, f)
        tmp = os.path.join(self._tdir(table), "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, os.path.join(self._tdir(table), "_LATEST"))
        return sid

    def _parquet(self, spark: SparkSession, table: str, *dirs: str) -> DataFrame:
        schema = self._schemas.get(table)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*dirs)

    # ------------------------------------------------------------- read ----
    def read(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame | None:
        """Read table state as of a snapshot (default: latest).

        append tables: union of all delta dirs with id <= snapshot_id.
        replace tables: the single snapshot dir.
        """
        manifests = self.snapshots(table)
        if not manifests:
            return None
        if snapshot_id is None:
            latest = self.latest(table)
            if latest is None:
                return None
            snapshot_id = latest["id"]
        elif all(m["id"] != snapshot_id for m in manifests):
            # an explicitly requested id that no longer exists (expired,
            # truncated, or never committed) reads None — NOT the state
            # as-of the nearest older snapshot, which would hand a
            # recovery replay a silently different table than it asked
            # for (same contract as the Iceberg backend)
            return None
        upto = [m for m in manifests if m["id"] <= snapshot_id]
        if not upto:
            return None
        head = upto[-1]
        if head["mode"] == "replace":
            return self._parquet(spark, table, self._sdir(table, head["id"]))
        if head["mode"] == "merge":
            return self._read_merged(spark, table, upto)
        # append head: union the last replace base (if any — compaction or
        # a copy-on-write delete like CrawlEngine.retract) with the appends
        # AFTER it; appends before the base were folded into (or removed
        # from) it and must not resurrect
        base_idx = max(
            (i for i, m in enumerate(upto) if m["mode"] == "replace"), default=None
        )
        tail = upto if base_idx is None else upto[base_idx:]
        # a merge delta in the tail of an append-head table would be
        # silently dropped here — fail loudly instead, mirroring
        # _read_merged's append/merge-mixing guard (a real raise, not an
        # assert: python -O must not turn the guard into silent
        # row-resurrection)
        if any(m["mode"] not in ("append", "replace") for m in tail):
            raise ValueError(
                f"table {table}: merge snapshots cannot mix with an append head"
            )
        dirs = [self._sdir(table, m["id"]) for m in tail]
        return self._parquet(spark, table, *dirs)

    def _read_merged(self, spark: SparkSession, table: str, upto: list[dict]) -> DataFrame:
        """Reconcile base replace + merge deltas: per merge_key, the row
        from the HIGHEST snapshot id wins (MERGE INTO emulation). Only the
        deltas after the last replace are folded, so compaction bounds the
        window's input."""
        base_idx = max(
            (i for i, m in enumerate(upto) if m["mode"] == "replace"), default=None
        )
        relevant = upto if base_idx is None else upto[base_idx:]
        key = next(m["merge_key"] for m in reversed(relevant) if m["mode"] == "merge")
        parts = []
        for m in relevant:
            if m["mode"] not in ("replace", "merge"):
                raise ValueError(
                    f"table {table}: append snapshots cannot mix with merge"
                )
            parts.append(
                self._parquet(spark, table, self._sdir(table, m["id"])).withColumn(
                    "_sid", F.lit(m["id"])
                )
            )
        allrows = parts[0]
        for p in parts[1:]:
            allrows = allrows.unionByName(p)
        w = Window.partitionBy(*key).orderBy(F.col("_sid").desc())
        return (
            allrows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_sid")
        )

    def compact(self, table: str) -> int | None:
        """Rewrite the reconciled state of a merge- or append-headed table
        as a fresh replace base (Iceberg table-maintenance compaction).

        Merge tables: bounds the reader's per-key reconcile window.
        Append tables: bounds the reader's UNION width — an append-only
        ``seen`` table otherwise accumulates one snapshot dir per wave
        forever, and at 10^10 scale a multi-thousand-dir union is a real
        planner/file-listing cost even though the rows are disjoint.
        Follow with ``expire_snapshots`` to physically reclaim the folded
        dirs. Returns the new snapshot id, or None when the head is
        already a replace base (nothing to fold).
        """
        latest = self.latest(table)
        if latest is None or latest["mode"] == "replace":
            return None
        spark = SparkSession.getActiveSession()
        reconciled = self.read(spark, table)
        # the commit writes a NEW snapshot dir, so reading the old dirs
        # while writing is safe (no in-place overwrite)
        return self.commit(
            table, reconciled, mode="replace", wave=latest.get("wave"),
            meta={"compacted_from": latest["id"], **latest.get("meta", {})},
        )

    def expire_snapshots(self, table: str, keep_from: int | None = None) -> list[int]:
        """Iceberg expire-snapshots twin: physically delete snapshot data
        dirs + manifests strictly BEFORE the last replace base. Those
        snapshots are unreachable from every current and future read —
        all three read modes reconstruct from the last replace base at or
        below the requested id — and a 10^10 crawl compacting every N
        waves would otherwise retain its entire write history forever
        (each compaction writes a full new base WITHOUT reclaiming the
        folded deltas). Time travel to an expired id afterwards returns
        None, the Iceberg contract: expired snapshots are gone.

        ``keep_from``: expire strictly below this id instead — clamped to
        the last base id, because retaining a partial pre-base tail would
        let a time-travel read reconstruct a WRONG partial state (an
        append-mode union missing its earlier deltas) rather than
        None-or-correct.

        Returns the expired snapshot ids. No-op on tables without a
        replace base (pure append/merge histories are all still
        reachable).
        """
        latest = self.latest(table)
        if latest is None:
            return []
        manifests = [m for m in self.snapshots(table) if m["id"] <= latest["id"]]
        base_id = max(
            (m["id"] for m in manifests if m["mode"] == "replace"), default=None
        )
        if base_id is None:
            return []
        cut = base_id if keep_from is None else min(keep_from, base_id)
        expired = [m["id"] for m in manifests if m["id"] < cut]
        for sid in expired:
            # manifest FIRST: a crash between the two deletes must leave
            # the id unreadable (None), never a manifest pointing at a
            # vanished data dir (a Spark path-not-found on time travel)
            try:
                os.remove(self._manifest_path(table, sid))
            except OSError:
                pass
            shutil.rmtree(self._sdir(table, sid), ignore_errors=True)
        self._sweep_orphans(table, lambda sid: sid < cut)
        return expired

    def _sweep_orphans(self, table: str, doomed) -> None:
        """Remove manifest-less data dirs whose id ``doomed(id)`` selects.
        Expiry and rollback delete a snapshot's manifest before its data
        dir, so a crash between the two leaves a dir that snapshots() no
        longer sees; re-running either call reclaims it here."""
        try:
            entries = os.listdir(self._tdir(table))
        except OSError:
            return
        live = {f"s{m['id']:06d}" for m in self.snapshots(table)}
        for name in entries:
            if (
                name.startswith("s")
                and not name.endswith(".json")
                and name[1:].isdigit()
                and doomed(int(name[1:]))
                and name not in live
            ):
                shutil.rmtree(os.path.join(self._tdir(table), name), ignore_errors=True)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)
        self._schemas.pop(table, None)

    def truncate_after(self, table: str, snapshot_id: int) -> None:
        """Roll back to ``snapshot_id`` (crash-recovery / testing aid)."""
        for m in self.snapshots(table):
            if m["id"] > snapshot_id:
                os.remove(self._manifest_path(table, m["id"]))
                shutil.rmtree(self._sdir(table, m["id"]), ignore_errors=True)
        self._sweep_orphans(table, lambda sid: sid > snapshot_id)
        # a rolled-back commit may have changed the schema
        self._schemas.pop(table, None)
        tmp = os.path.join(self._tdir(table), "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
        os.replace(tmp, os.path.join(self._tdir(table), "_LATEST"))
