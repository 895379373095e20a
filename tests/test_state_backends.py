"""Backend-shared SnapshotStore contract suite (VERDICT r4 item 7).

The same tests run against the Parquet-emulation store (always, in this
sandbox) and the Iceberg-catalog adapter (wherever a
``spark.sql.catalog.<name>`` is configured and its jars load — skipped
cleanly otherwise; this sandbox ships no Iceberg jars). Every test uses
only the PUBLIC contract — commit returns an opaque snapshot id usable
for time travel; expired ids read None; reads reflect rollbacks — so ids
being dense ints (Parquet) vs random int64s (Iceberg) is invisible.
"""

from __future__ import annotations

import os

import pytest

from literature_crawler_spark.plans.state import SnapshotStore

ICEBERG_CATALOG = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "lcs")


@pytest.fixture(params=["parquet", "iceberg"])
def store(request, spark, tmp_path):
    if request.param == "parquet":
        yield SnapshotStore(str(tmp_path / "pq"))
        return
    from literature_crawler_spark.plans.iceberg_state import (
        IcebergSnapshotStore,
        iceberg_available,
    )

    if not iceberg_available(spark, ICEBERG_CATALOG):
        pytest.skip(
            f"no loadable Iceberg catalog '{ICEBERG_CATALOG}' configured "
            "(set spark.sql.catalog.<name> with the Iceberg jars on the "
            "classpath and SPARK_GRAFT_ICEBERG_CATALOG to enable)"
        )
    ns = "lcs_test_" + tmp_path.name.replace("-", "_")
    s = IcebergSnapshotStore(spark, ICEBERG_CATALOG, ns)
    yield s
    for t in ("t", "m"):
        s.drop(t)
    spark.sql(f"DROP NAMESPACE IF EXISTS {ICEBERG_CATALOG}.{ns}")


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _ks(df):
    return {r.k for r in df.collect()}


def test_append_union_and_time_travel(spark, store):
    s0 = store.commit("t", _df(spark, 0, 5), mode="append")
    s1 = store.commit("t", _df(spark, 5, 9), mode="append")
    assert _ks(store.read(spark, "t")) == set(range(9))
    assert _ks(store.read(spark, "t", snapshot_id=s0)) == set(range(5))
    assert _ks(store.read(spark, "t", snapshot_id=s1)) == set(range(9))
    assert store.latest("t")["id"] == s1


def test_replace_supersedes_but_history_travels(spark, store):
    s0 = store.commit("t", _df(spark, 0, 5), mode="append")
    s1 = store.commit("t", _df(spark, 100, 103), mode="replace")
    assert _ks(store.read(spark, "t")) == {100, 101, 102}
    assert _ks(store.read(spark, "t", snapshot_id=s0)) == set(range(5))
    assert store.latest("t")["id"] == s1


def test_merge_last_writer_wins(spark, store):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    upd = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    s0 = store.commit("m", base, mode="merge", merge_key=["k"])
    store.commit("m", upd, mode="merge", merge_key=["k"])
    got = {(r.k, r.v) for r in store.read(spark, "m").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    before = {(r.k, r.v) for r in store.read(spark, "m", snapshot_id=s0).collect()}
    assert before == {(1, "a"), (2, "b"), (3, "c")}


def test_expired_snapshot_reads_none(spark, store):
    s0 = store.commit("t", _df(spark, 0, 5), mode="append")
    store.commit("t", _df(spark, 5, 9), mode="append")
    s2 = store.commit("t", store.read(spark, "t"), mode="replace")
    expired = store.expire_snapshots("t")
    assert s0 in expired
    assert store.read(spark, "t", snapshot_id=s0) is None
    assert _ks(store.read(spark, "t")) == set(range(9))
    assert _ks(store.read(spark, "t", snapshot_id=s2)) == set(range(9))


def test_truncate_after_rolls_back(spark, store):
    s0 = store.commit("t", _df(spark, 0, 5), mode="append")
    s1 = store.commit("t", _df(spark, 5, 9), mode="append")
    store.truncate_after("t", s0)
    assert _ks(store.read(spark, "t")) == set(range(5))
    assert store.latest("t")["id"] == s0
    # rolled-back snapshots are GONE on every backend, not just unheaded:
    # a recovery replay must not see phantom post-rollback waves
    assert all(m["id"] != s1 for m in store.snapshots("t"))
    assert store.read(spark, "t", snapshot_id=s1) is None


def test_merge_commit_carries_wave_meta(spark, store):
    """latest()['wave'] after a merge commit — the engine's resume
    compares it (crawl.py), so a backend losing merge metadata breaks
    crash recovery."""
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    store.commit("m", base, mode="merge", merge_key=["k"], wave=3,
                 meta={"n": 1})
    upd = spark.createDataFrame([(1, "A"), (2, "b")], "k long, v string")
    store.commit("m", upd, mode="merge", merge_key=["k"], wave=4,
                 meta={"n": 2})
    latest = store.latest("m")
    assert latest["wave"] == 4
    assert latest["meta"].get("n") == 2


class _RecordingSpark:
    """Stand-in for a SparkSession over an Iceberg catalog: records every
    SQL statement, and a MERGE creates a new head snapshot only when
    ``merge_changes`` says the source changed rows."""

    def __init__(self, merge_changes: bool) -> None:
        self.sql_log: list[str] = []
        self.head = 7
        self.merge_changes = merge_changes
        self.catalog = type("Catalog", (), {"dropTempView": lambda self, v: None})()

    def sql(self, q: str):
        self.sql_log.append(q)
        if q.startswith("MERGE INTO") and self.merge_changes:
            self.head += 1


class _SourceDf:
    def createOrReplaceTempView(self, name: str) -> None:
        pass

    def writeTo(self, ident: str):
        return self

    def option(self, key: str, value: str):
        return self


@pytest.mark.parametrize("changes", [False, True])
def test_iceberg_merge_writes_manifest_only_for_new_snapshot(monkeypatch, changes):
    """A MERGE that changes no row creates no Iceberg snapshot; the store
    must then leave the previous snapshot's ``lcs-manifest-<id>`` alone
    instead of overwriting it with this commit's wave and meta."""
    from literature_crawler_spark.plans.iceberg_state import IcebergSnapshotStore

    spark = _RecordingSpark(merge_changes=changes)
    store = IcebergSnapshotStore(spark, "cat", "ns")
    monkeypatch.setattr(store, "_exists", lambda table: True)
    monkeypatch.setattr(
        store, "latest",
        lambda table: {"id": spark.head, "mode": "merge", "wave": 1, "meta": {}},
    )
    sid = store.commit(
        "frontier", _SourceDf(), mode="merge", wave=2, meta={"pending": 3},
        merge_key=["url_hash"],
    )
    alters = [q for q in spark.sql_log if q.startswith("ALTER TABLE")]
    if changes:
        assert sid == 8
        assert len(alters) == 1 and "'lcs-manifest-8'" in alters[0]
        assert '"wave": 2' in alters[0]
    else:
        assert sid == 7
        assert alters == []
