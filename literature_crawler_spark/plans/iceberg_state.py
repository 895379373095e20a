"""Iceberg-backed SnapshotStore (conf-gated deploy adapter).

``plans.state.SnapshotStore`` emulates snapshot commits / MERGE / time
travel / expire over Parquet dirs + JSON manifests because this sandbox
ships no Iceberg jars. On a real cluster the same contract should ride a
real Iceberg catalog — this module is that adapter, expressed purely
through Iceberg's public Spark surface (``writeTo`` v2 API, ``MERGE
INTO``, the ``<table>.snapshots`` metadata table, and the
``system.expire_snapshots`` / ``system.rollback_to_snapshot``
procedures), so it activates wherever
``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog`` is
configured and is skipped (cleanly, via ``iceberg_available``) where it
is not — there is nothing to exercise in-sandbox, and the shared
contract tests (tests/test_state_backends.py) parametrize over both
backends and skip this one when the catalog cannot initialize.

Contract deltas vs the Parquet store, both documented here because
callers MUST treat snapshot ids as opaque:

* snapshot ids are Iceberg's random int64s, not dense 0..n — the engine
  only ever stores and replays ids it was handed, which works unchanged;
* per-snapshot metadata (wave, counters) rides Iceberg's snapshot
  summary via the ``snapshot-property.*`` write options for writeTo
  commits, and a per-snapshot TABLE property for SQL MERGE commits
  (which cannot attach summary options) — ``snapshots()`` folds both
  back into the manifest dicts.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True when ``catalog`` is configured AND its implementation class
    actually loads (jars on the classpath) — probed with a no-op
    namespace listing so misconfigured clusters skip instead of failing
    mid-commit."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}").collect()
        return True
    except Exception:
        return False


class IcebergSnapshotStore:
    """Same surface as ``plans.state.SnapshotStore``, over a real Iceberg
    catalog. ``root`` becomes the namespace (created on first commit)."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str) -> None:
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def _exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(table))

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
        if mode not in ("append", "replace", "merge"):
            raise ValueError(f"unknown snapshot mode {mode!r}")
        if (merge_key is not None) != (mode == "merge"):
            raise ValueError("merge_key is required iff mode='merge'")
        ident = self._ident(table)
        props = {"wave": wave, "meta": meta or {}, "mode": mode}
        writer = df.writeTo(ident).option(
            "snapshot-property.lcs-manifest", json.dumps(props)
        )
        if mode == "replace":
            writer.createOrReplace()
        elif mode == "append":
            if self._exists(table):
                writer.append()
            else:
                writer.create()
        else:  # merge — Iceberg's real MERGE INTO, not an emulation
            if not self._exists(table):
                writer.create()
            else:
                head = self.latest(table)["id"]
                view = f"_lcs_merge_src_{table}"
                df.createOrReplaceTempView(view)
                on = " AND ".join(f"t.{k} <=> s.{k}" for k in merge_key)
                self.spark.sql(
                    f"MERGE INTO {ident} t USING {view} s ON {on} "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"
                )
                self.spark.catalog.dropTempView(view)
                # SQL commits can't carry snapshot-property.* write
                # options, and losing wave/meta on every merge breaks
                # resume (the engine compares latest()['wave']); persist
                # the manifest as a per-snapshot TABLE property instead,
                # which snapshots() folds back in. A MERGE that changes no
                # row creates no snapshot: the head is still the previous
                # commit's, whose manifest must not be overwritten.
                sid = self.latest(table)["id"]
                if sid != head:
                    esc = json.dumps(props).replace("'", "''")
                    self.spark.sql(
                        f"ALTER TABLE {ident} SET TBLPROPERTIES "
                        f"('lcs-manifest-{sid}' = '{esc}')"
                    )
        return self.latest(table)["id"]

    # ------------------------------------------------------------- read ----
    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame | None:
        if not self._exists(table):
            return None
        if snapshot_id is None:
            return spark.read.table(self._ident(table))
        if all(m["id"] != snapshot_id for m in self.snapshots(table)):
            return None  # expired or never existed: the None-or-correct contract
        return (
            spark.read.option("snapshot-id", snapshot_id).table(self._ident(table))
        )

    def snapshots(self, table: str) -> list[dict]:
        if not self._exists(table):
            return []
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at, operation, summary "
            f"FROM {self._ident(table)}.snapshots ORDER BY committed_at"
        ).collect()
        # merge commits store their manifest as a per-snapshot table
        # property (SQL MERGE cannot attach snapshot summary options)
        tbl_props = {
            r[0]: r[1]
            for r in self.spark.sql(
                f"SHOW TBLPROPERTIES {self._ident(table)}"
            ).collect()
            if r[0].startswith("lcs-manifest-")
        }
        out = []
        for r in rows:
            props = {}
            raw = (r.summary or {}).get("lcs-manifest") or tbl_props.get(
                f"lcs-manifest-{r.snapshot_id}"
            )
            if raw:
                try:
                    props = json.loads(raw)
                except ValueError:
                    props = {}
            out.append(
                {
                    "id": r.snapshot_id,
                    "mode": props.get("mode", r.operation),
                    "wave": props.get("wave"),
                    "meta": props.get("meta", {}),
                }
            )
        return out

    def latest(self, table: str) -> dict | None:
        """The CURRENT snapshot — via the history metadata table, not the
        newest commit, so a rollback_to_snapshot is reflected."""
        if not self._exists(table):
            return None
        hist = self.spark.sql(
            f"SELECT snapshot_id FROM {self._ident(table)}.history "
            "ORDER BY made_current_at"
        ).collect()
        if not hist:
            return None
        cur = hist[-1].snapshot_id
        for m in self.snapshots(table):
            if m["id"] == cur:
                return m
        return {"id": cur, "mode": None, "wave": None, "meta": {}}

    # ------------------------------------------------------ maintenance ----
    def compact(self, table: str) -> int | None:
        """Iceberg-native compaction: rewrite small files; the reader-side
        reconcile windows the Parquet store compacts away do not exist
        here (MERGE is physical)."""
        if not self._exists(table):
            return None
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{table}')"
        )
        return self.latest(table)["id"]

    def expire_snapshots(self, table: str, keep_from: int | None = None) -> list[int]:
        """Expire every snapshot committed BEFORE ``keep_from`` (default:
        the current head) via the catalog procedure; time travel to an
        expired id reads None afterwards. Position is by commit order —
        Iceberg ids are random int64s, so id arithmetic would be
        meaningless here."""
        snaps = self.snapshots(table)  # committed_at order
        if not snaps:
            return []
        if keep_from is None:
            cut_pos = len(snaps) - 1
        else:
            pos = [i for i, m in enumerate(snaps) if m["id"] == keep_from]
            if not pos:
                return []
            cut_pos = pos[0]
        expired = [m["id"] for m in snaps[:cut_pos]]
        if not expired:
            return []
        ids = ", ".join(str(i) for i in expired)
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{table}', snapshot_ids => ARRAY({ids}))"
        )
        return expired

    def truncate_after(self, table: str, snapshot_id: int) -> None:
        """Roll back AND physically expire everything after ``snapshot_id``
        — rollback alone only moves the head, leaving the rolled-back
        snapshots listed by snapshots() and time-travel-readable, which
        would diverge from the Parquet backend's delete semantics (a
        recovery replay would see phantom post-rollback waves)."""
        snaps = self.snapshots(table)  # committed_at order, pre-rollback
        pos = [i for i, m in enumerate(snaps) if m["id"] == snapshot_id]
        self.spark.sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot("
            f"table => '{self.namespace}.{table}', snapshot_id => {snapshot_id})"
        )
        if pos:
            later = [m["id"] for m in snaps[pos[0] + 1 :]]
            if later:
                ids = ", ".join(str(i) for i in later)
                self.spark.sql(
                    f"CALL {self.catalog}.system.expire_snapshots("
                    f"table => '{self.namespace}.{table}', "
                    f"snapshot_ids => ARRAY({ids}))"
                )

    def drop(self, table: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)} PURGE")
