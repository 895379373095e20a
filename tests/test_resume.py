"""Resume semantics: kill after wave k, restart from snapshots, identical
final state (FIXTURES.md invariant 4; reference analogue: frozen Redis
crawl_list reload, nature_protocol_crawl.py:67-88)."""

import os
import shutil

import numpy as np
import pytest

from literature_crawler_spark.plans.crawl import CrawlEngine
from literature_crawler_spark.plans.state import SnapshotStore
from literature_crawler_spark.sources import synthetic as syn

N_PAGES, N_HOSTS, N_SEEDS = 300, 8, 25


@pytest.fixture(scope="module")
def corpus(spark):
    return {
        "pages": syn.generate_pages(spark, N_PAGES, N_HOSTS, with_images=False),
        "seeds": syn.generate_seeds(spark, N_SEEDS, N_PAGES, N_HOSTS),
        "robots": syn.generate_robots(spark),
        "politeness": syn.generate_politeness(spark, N_HOSTS),
    }


def _mk_engine(spark, corpus, path):
    return CrawlEngine(
        spark, SnapshotStore(path), corpus["pages"], corpus["robots"], corpus["politeness"]
    )


def _state(eng):
    seen = {r.canon_url for r in eng.seen().collect()}
    order = [(r.wave, r.seq, r.canon_url) for r in eng.crawl_order().orderBy("wave", "seq").collect()]
    return seen, order


def test_resume_equals_straight_run(spark, corpus, tmp_path):
    straight = _mk_engine(spark, corpus, str(tmp_path / "straight"))
    straight.run(corpus["seeds"], max_waves=3)

    # interrupted: run 1 wave, drop the engine, build a NEW engine on the
    # same store (process restart), continue
    p = str(tmp_path / "resumed")
    first = _mk_engine(spark, corpus, p)
    first.run(corpus["seeds"], max_waves=1)
    del first
    resumed = _mk_engine(spark, corpus, p)
    assert resumed.last_wave() == 1  # state recovered from manifests
    resumed.run(max_waves=2)

    assert _state(straight) == _state(resumed)


def test_rollback_then_rerun(spark, corpus, tmp_path):
    """truncate_after() rewinds to a snapshot; re-running reproduces the
    same downstream state (idempotent replay)."""
    p = str(tmp_path / "rb")
    eng = _mk_engine(spark, corpus, p)
    eng.run(corpus["seeds"], max_waves=2)
    want = _state(eng)

    # rewind every state table to its wave-1 snapshot, then re-run wave 2
    store = eng.store
    for table in ("frontier", "seen", "order", "metrics", "lineage"):
        keep = [m["id"] for m in store.snapshots(table) if (m["wave"] or 0) <= 1]
        store.truncate_after(table, max(keep))
    eng2 = _mk_engine(spark, corpus, p)
    assert eng2.last_wave() == 1
    eng2.run(max_waves=1)
    assert _state(eng2) == want


def test_compaction_preserves_state(spark, corpus, tmp_path):
    """compact_every folds the frontier's merge-delta chain into a replace
    base without changing the reconciled state, and resume keeps working
    on top of the compacted base."""
    plain = _mk_engine(spark, corpus, str(tmp_path / "plain"))
    plain.run(corpus["seeds"], max_waves=3)

    p = str(tmp_path / "cmp")
    eng = CrawlEngine(
        spark, SnapshotStore(p), corpus["pages"], corpus["robots"],
        corpus["politeness"], compact_every=2,
    )
    eng.run(corpus["seeds"], max_waves=2)
    # wave 2's compaction is the latest frontier snapshot, a replace base
    latest = eng.store.latest("frontier")
    assert latest["mode"] == "replace" and "compacted_from" in latest["meta"], latest
    # restart on the compacted base and finish
    eng2 = CrawlEngine(
        spark, SnapshotStore(p), corpus["pages"], corpus["robots"],
        corpus["politeness"], compact_every=2,
    )
    eng2.run(max_waves=1)
    assert _state(plain) == _state(eng2)


def test_order_log_carries_fetch_status(spark, corpus, tmp_path):
    """The order table is the crawl log: each wave's scheduled rows with
    their fetch status, whose counts equal the wave's metrics."""
    eng = _mk_engine(spark, corpus, str(tmp_path / "log"))
    metrics = eng.run(corpus["seeds"], max_waves=2)
    counts = {
        (r.wave, r.status): r["count"]
        for r in eng.store.read(spark, "order").groupBy("wave", "status").count().collect()
    }
    assert {s for _, s in counts} <= {"fetched", "missing"}
    for m in metrics:
        assert counts.get((m["wave"], "fetched"), 0) == m["fetched"]
        assert counts.get((m["wave"], "missing"), 0) == m["missing"]
    assert eng.crawl_order().columns == ["wave", "seq", "host", "canon_url"]


def test_per_partition_lineage(spark, corpus, tmp_path):
    """Each wave commits fetch-shard and dedup-bucket lineage whose totals
    reconcile with the wave metrics (north rule: per-partition lineage)."""
    eng = _mk_engine(spark, corpus, str(tmp_path / "lin"))
    metrics = eng.run(corpus["seeds"], max_waves=2)
    lineage = eng.store.read(spark, "lineage")
    assert lineage is not None
    rows = lineage.collect()
    by_wave_kind = {}
    for r in rows:
        by_wave_kind.setdefault((r.wave, r.kind), 0)
        by_wave_kind[(r.wave, r.kind)] += r.n
    for m in metrics:
        w = m["wave"]
        assert by_wave_kind.get((w, "fetch_salt"), 0) == m["scheduled"]
        assert by_wave_kind.get((w, "dedup_bucket"), 0) == m["new_urls"]


def _assert_store_is_seen(eng):
    """The live store generation is the one the latest seen snapshot
    names and holds exactly its keys: every seen key probes true, the
    occupied slots equal the seen key count (no key held twice), and no
    file the generation does not name is left in the store directory."""
    st = eng._seen_store
    assert eng.store.latest("seen")["meta"]["cuckoo"] == st.descriptor()
    hashes = np.array(
        [r.url_hash for r in eng.seen().select("url_hash").collect()], dtype=np.int64
    )
    assert st.probe_np(hashes).all()
    occupied = sum(
        int(np.count_nonzero(np.fromfile(p, dtype=np.uint16)))
        for p in st.paths().values()
    )
    assert occupied == len(hashes)
    assert sorted(os.listdir(st.root)) == sorted(
        os.path.basename(p) for p in st.paths().values()
    )


def test_store_generation_tracks_seen(spark, corpus, tmp_path):
    """Bootstrap, a wave and a forget-retract each commit seen with the
    store generation that holds exactly its keys."""
    from pyspark.sql import functions as F

    eng = CrawlEngine(
        spark, SnapshotStore(str(tmp_path / "gen")), corpus["pages"],
        corpus["robots"], corpus["politeness"], use_bloom="cuckoo",
    )
    eng.bootstrap(corpus["seeds"])
    _assert_store_is_seen(eng)
    eng.run_wave(1)
    _assert_store_is_seen(eng)
    victim = eng.frontier().filter(F.col("status") == "fetched").limit(1).collect()[0]
    out = eng.retract(spark.createDataFrame([(victim.canon_url,)], "url string"))
    assert out["retracted"] == 1
    _assert_store_is_seen(eng)


def test_bucketed_bloom_staleness_remerge(spark, corpus, tmp_path):
    """A seen snapshot written by a use_bloom=False engine names no store
    generation, so a cuckoo engine opening it builds its store from seen
    — the store left by the earlier cuckoo run is behind seen and would
    give false negatives, re-crawling seen URLs and appending duplicates
    to seen."""

    def mk(path, mode):
        return CrawlEngine(
            spark, SnapshotStore(path), corpus["pages"],
            corpus["robots"], corpus["politeness"], use_bloom=mode,
        )

    straight = mk(str(tmp_path / "s"), "cuckoo")
    straight.run(corpus["seeds"], max_waves=3)

    p = str(tmp_path / "x")
    first = mk(p, "cuckoo")  # store created, watermark at wave-1 seen
    first.run(corpus["seeds"], max_waves=1)
    mid = mk(p, False)  # plain anti-join: seen advances, store does NOT
    mid.run(max_waves=1)
    assert "cuckoo" not in mid.store.latest("seen")["meta"]
    resumed = mk(p, "cuckoo")  # builds from seen: every seen key, once
    hashes = np.array(
        [r.url_hash for r in resumed.seen().select("url_hash").collect()], dtype=np.int64
    )
    assert resumed._seen_store.probe_np(hashes).all()
    resumed.run(max_waves=1)
    assert _state(straight) == _state(resumed)
    _assert_store_is_seen(resumed)


def test_crash_window_heal(spark, corpus, tmp_path):
    """A wave commits frontier (merge) BEFORE seen (append); a crash
    between the two leaves the wave's discoveries pending-but-unseen. On
    resume the engine must heal the window — re-admitting those keys to
    seen under their EXISTING seqs — and the finished crawl must equal an
    uninterrupted run exactly (no double-numbering, no re-fetch)."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    straight = _mk_engine(spark, corpus, str(tmp_path / "cw_straight"))
    straight.run(corpus["seeds"], max_waves=3)

    crashed = _mk_engine(spark, corpus, str(tmp_path / "cw_crash"))
    crashed.run(corpus["seeds"], max_waves=2)
    # simulate the kill between wave 2's frontier and seen commits: drop
    # seen's latest snapshot (manifest + pointer — what a death before the
    # manifest write leaves behind; the orphan data dir is irrelevant, the
    # reader keys off manifests)
    tdir = os.path.join(str(tmp_path / "cw_crash"), "seen")
    with open(os.path.join(tdir, "_LATEST")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(tdir, f"s{sid:06d}.json")) as f:
        dropped = json.load(f)
    assert dropped["meta"].get("added", 0) > 0  # the wave discovered URLs
    os.unlink(os.path.join(tdir, f"s{sid:06d}.json"))
    shutil.rmtree(os.path.join(tdir, f"s{sid:06d}"), ignore_errors=True)
    with open(os.path.join(tdir, "_LATEST"), "w") as f:
        f.write(str(sid - 1))

    resumed = _mk_engine(spark, corpus, str(tmp_path / "cw_crash"))
    # pre-heal: pending frontier rows missing from seen (the bug window)
    pending = resumed.frontier().filter(F.col("status") == "pending")
    n_missing = pending.join(
        resumed.seen().select("url_hash"), "url_hash", "left_anti"
    ).count()
    assert n_missing > 0
    resumed.run(max_waves=1)
    # healed: the invariant holds again ...
    pending2 = resumed.frontier().filter(F.col("status") == "pending")
    assert (
        pending2.join(resumed.seen().select("url_hash"), "url_hash", "left_anti").count()
        == 0
    )
    # ... the heal commit is recorded ...
    heals = [
        m for m in resumed.store.snapshots("seen") if m["meta"].get("healed")
    ]
    assert len(heals) == 1 and heals[0]["meta"]["added"] == dropped["meta"]["added"]
    # ... and the final state equals the uninterrupted run exactly
    assert _state(resumed) == _state(straight)


def test_crash_window_heal_cuckoo_single_copy(spark, corpus, tmp_path, monkeypatch):
    """The realistic crash lands AFTER the wave's store merge (the merge
    runs right before the seen commit). Cuckoo insert is not idempotent —
    a second fingerprint copy per key would survive a later retract
    delete(), leaving a permanent stale hit. The merge wrote a generation
    no seen snapshot names, so the resumed engine adopts the previous
    one, and the heal's unfiltered merge holds each key once: after
    heal + fetch + forget, the store must MISS the key."""
    from pyspark.sql import functions as F

    def mk(path):
        return CrawlEngine(
            spark, SnapshotStore(path), corpus["pages"], corpus["robots"],
            corpus["politeness"], use_bloom="cuckoo",
        )

    p = str(tmp_path / "cw_ck")
    crashed = mk(p)
    crashed.run(corpus["seeds"], max_waves=1)
    real_commit = SnapshotStore.commit

    def commit(self, table, df, *args, **kwargs):
        if table == "seen":
            raise RuntimeError("killed between the store merge and the seen commit")
        return real_commit(self, table, df, *args, **kwargs)

    monkeypatch.setattr(SnapshotStore, "commit", commit)
    with pytest.raises(RuntimeError, match="killed"):
        crashed.run_wave(2)
    monkeypatch.setattr(SnapshotStore, "commit", real_commit)

    resumed = mk(p)
    healed_keys = (
        resumed.frontier().filter(F.col("status") == "pending")
        .join(resumed.seen().select("url_hash"), "url_hash", "left_anti")
        .select("url_hash", "canon_url")
        .collect()
    )
    assert healed_keys  # the crash window is open
    # the resumed store is seen's generation, not the crashed merge's
    assert resumed._seen_store.descriptor() == resumed.store.latest("seen")["meta"]["cuckoo"]
    assert resumed._seen_store.descriptor() != crashed._seen_store.descriptor()
    resumed.run(max_waves=1)  # heal + fetch (politeness-budgeted) pending rows
    _assert_store_is_seen(resumed)

    # pick a healed key wave 3 actually fetched (the politeness budget
    # schedules only part of the backlog per wave) — it is now forgettable
    healed_hashes = {r.url_hash for r in healed_keys}
    fetched = [
        r
        for r in resumed.frontier()
        .filter(F.col("status") != "pending")
        .select("url_hash", "canon_url")
        .collect()
        if r.url_hash in healed_hashes
    ]
    assert fetched, "no healed key was scheduled in wave 3 — raise max_waves"
    victim = fetched[0]
    out = resumed.retract(
        spark.createDataFrame([(victim.canon_url,)], "url string")
    )
    assert out["retracted"] == 1
    # exactly one fingerprint copy existed: one delete clears the store
    assert not resumed._seen_store.probe_np(
        np.array([victim.url_hash], dtype=np.int64)
    )[0]


def test_retract_forget_skips_pending_rows(spark, corpus, tmp_path):
    """retract(requeue=False) must not forget a still-pending row: the
    row has not been crawled (nothing to forget), and deleting its seen
    key while it stays scheduled would break the ``pending frontier rows
    ⊆ seen`` invariant the crash-window reconciler restores — the next
    wave would fetch it under its old seq while link re-discovery
    re-admits it under a new one."""
    from pyspark.sql import functions as F

    eng = _mk_engine(spark, corpus, str(tmp_path / "fp"))
    eng.run(corpus["seeds"], max_waves=2)
    pending = eng.frontier().filter(F.col("status") == "pending").limit(1).collect()
    assert pending, "corpus exhausted before wave 2 — enlarge N_PAGES"
    victim = pending[0]
    before = eng.seen().count()
    out = eng.retract(
        spark.createDataFrame([(victim.canon_url,)], "url string")
    )
    assert out == {"retracted": 0, "matched": 0, "requeued": 0}
    assert eng.seen().count() == before
    # invariant intact: every pending frontier row still has its seen key
    assert (
        eng.frontier().filter(F.col("status") == "pending")
        .join(eng.seen().select("url_hash"), "url_hash", "left_anti")
        .count()
        == 0
    )


# ----------------------------------------------------- expire snapshots ----


def test_expire_snapshots_reclaims_pre_base_history(spark, tmp_path):
    """After a replace base exists, expire_snapshots deletes every older
    snapshot's data dir + manifest; the current read is unchanged and
    time travel to expired ids returns None (the Iceberg contract)."""
    import os

    store = SnapshotStore(str(tmp_path / "exp"))
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    s0 = store.commit("t", df(0, 10), mode="append")
    s1 = store.commit("t", df(10, 20), mode="append")
    base = store.commit("t", store.read(spark, "t"), mode="replace")
    s3 = store.commit("t", df(20, 25), mode="append")

    before = {r.k for r in store.read(spark, "t").collect()}
    assert before == set(range(25))
    expired = store.expire_snapshots("t")
    assert expired == [s0, s1]
    # physical reclaim
    assert not os.path.exists(store._sdir("t", s0))
    assert not os.path.exists(store._manifest_path("t", s1))
    # current read identical; post-base snapshots intact
    assert {r.k for r in store.read(spark, "t").collect()} == before
    assert {r.k for r in store.read(spark, "t", snapshot_id=base).collect()} == set(range(20))
    # expired ids are no longer time-travelable
    assert store.read(spark, "t", snapshot_id=s0) is None
    # idempotent + no-op on a second call
    assert store.expire_snapshots("t") == []
    assert store.latest("t")["id"] == s3


def test_expire_crash_window_leaves_no_orphan_manifest(spark, tmp_path, monkeypatch):
    """ADVICE r5 regression: a crash BETWEEN an expired snapshot's two
    deletes must leave the None-or-correct contract intact. The manifest
    is removed first, so the worst post-crash state is data-without-
    manifest (reads as None), never manifest-without-data (a Spark
    path-not-found on time travel)."""
    import shutil as _shutil

    from literature_crawler_spark.plans import state as state_mod

    store = SnapshotStore(str(tmp_path / "expc"))
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    s0 = store.commit("t", df(0, 10), mode="append")
    s1 = store.commit("t", df(10, 20), mode="append")
    store.commit("t", store.read(spark, "t"), mode="replace")

    real_rmtree = _shutil.rmtree

    def crash_on_first(path, *a, **kw):
        raise RuntimeError("simulated crash mid-expire")

    monkeypatch.setattr(state_mod.shutil, "rmtree", crash_on_first)
    try:
        store.expire_snapshots("t")
    except RuntimeError:
        pass
    monkeypatch.setattr(state_mod.shutil, "rmtree", real_rmtree)

    # s0's manifest went first; its data dir survived the crash — that
    # id must read as None, and no read path may raise
    assert store.read(spark, "t", snapshot_id=s0) is None
    assert {r.k for r in store.read(spark, "t").collect()} == set(range(20))
    # a re-run completes the expiry (idempotent repair)
    store.expire_snapshots("t")
    assert store.read(spark, "t", snapshot_id=s1) is None
    import os

    assert not os.path.exists(store._sdir("t", s0))
    assert not os.path.exists(store._sdir("t", s1))


def test_truncate_crash_window_reclaims_orphan_dir(spark, tmp_path, monkeypatch):
    """A crash between a rolled-back snapshot's two deletes (manifest
    gone, data dir left) leaves an orphan dir above the rollback point;
    re-running the rollback reclaims it through the same orphan sweep
    expire_snapshots uses."""
    import os
    import shutil as _shutil

    from literature_crawler_spark.plans import state as state_mod

    store = SnapshotStore(str(tmp_path / "trc"))
    df = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")  # noqa: E731
    s0 = store.commit("t", df(0, 10), mode="append")
    s1 = store.commit("t", df(10, 20), mode="append")
    s2 = store.commit("t", df(20, 30), mode="append")

    real_rmtree = _shutil.rmtree

    def crash(path, *a, **kw):
        raise RuntimeError("simulated crash mid-rollback")

    monkeypatch.setattr(state_mod.shutil, "rmtree", crash)
    with pytest.raises(RuntimeError):
        store.truncate_after("t", s0)
    monkeypatch.setattr(state_mod.shutil, "rmtree", real_rmtree)
    # s1's manifest went first: its data dir is now invisible to snapshots()
    assert os.path.isdir(store._sdir("t", s1))
    assert all(m["id"] != s1 for m in store.snapshots("t"))

    store.truncate_after("t", s0)
    assert not os.path.exists(store._sdir("t", s1))
    assert not os.path.exists(store._sdir("t", s2))
    assert store.latest("t")["id"] == s0
    assert {r.k for r in store.read(spark, "t").collect()} == set(range(10))


def test_expire_snapshots_noop_without_base(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "exp2"))
    store.commit("t", spark.range(5), mode="append")
    store.commit("t", spark.range(5, 9), mode="append")
    assert store.expire_snapshots("t") == []
    assert store.read(spark, "t").count() == 9


def test_expire_keep_from_clamped_to_base(spark, tmp_path):
    """keep_from above the base id must clamp: retaining a partial
    pre-base tail would reconstruct WRONG partial state on time travel."""
    store = SnapshotStore(str(tmp_path / "exp3"))
    store.commit("t", spark.range(3), mode="append")
    store.commit("t", spark.range(3, 6), mode="append")
    base = store.commit("t", store.read(spark, "t"), mode="replace")
    post = store.commit("t", spark.range(6, 8), mode="append")
    expired = store.expire_snapshots("t", keep_from=post + 10)
    assert max(expired) < base  # never expires the base or beyond
    assert store.read(spark, "t").count() == 8


def test_engine_compaction_expires_folded_deltas(spark, corpus, tmp_path):
    """compact_every folds the frontier's merge chain into a new base;
    expiry reclaims the folded deltas, and the crawl result is identical
    to a never-compacting run."""
    import os

    p = str(tmp_path / "cex")
    eng = CrawlEngine(
        spark, SnapshotStore(p), corpus["pages"], corpus["robots"],
        corpus["politeness"], compact_every=2,
    )
    eng.run(corpus["seeds"], max_waves=3)

    ref = CrawlEngine(
        spark, SnapshotStore(str(tmp_path / "cex_ref")), corpus["pages"],
        corpus["robots"], corpus["politeness"], compact_every=None,
    )
    ref.run(corpus["seeds"], max_waves=3)
    assert _state(eng) == _state(ref)

    # the frontier table physically holds only the last base + its tail
    store = eng.store
    manifests = store.snapshots("frontier")
    base_ids = [m["id"] for m in manifests if m["mode"] == "replace"]
    assert base_ids, "compaction ran"
    assert min(m["id"] for m in manifests) == max(base_ids) or all(
        m["id"] >= max(base_ids) for m in manifests
    )
    for m in manifests:
        assert os.path.exists(store._sdir("frontier", m["id"]))


def test_seen_compaction_preserves_state_and_bounds_dirs(spark, corpus, tmp_path):
    """compact_seen_every folds the append-only seen table into a replace
    base on its own cadence; crawl state is identical to a plain run, the
    folded append dirs are physically reclaimed, and resume on top of the
    compacted seen works."""

    plain = _mk_engine(spark, corpus, str(tmp_path / "sc_plain"))
    plain.run(corpus["seeds"], max_waves=3)

    p = str(tmp_path / "sc")
    eng = CrawlEngine(
        spark, SnapshotStore(p), corpus["pages"], corpus["robots"],
        corpus["politeness"], compact_every=None, compact_seen_every=2,
    )
    eng.run(corpus["seeds"], max_waves=2)
    manifests = eng.store.snapshots("seen")
    assert manifests[0]["mode"] == "replace"  # folded base, history expired
    for m in manifests:
        assert os.path.exists(eng.store._sdir("seen", m["id"]))
    # totals meta survives compaction (retract relies on it)
    assert eng.store.latest("seen")["meta"]["total"] == eng.seen().count()

    resumed = CrawlEngine(
        spark, SnapshotStore(p), corpus["pages"], corpus["robots"],
        corpus["politeness"], compact_every=None, compact_seen_every=2,
    )
    resumed.run(max_waves=1)
    assert _state(plain) == _state(resumed)


# ------------------------------------------------------ kill anywhere ----

# Wave 2's writes in order, with frontier and seen compaction due at wave 2.
# "merge" is the store merge killed after its files are written, before
# the store's descriptor advances; "commit:<table>" is killed right before
# that commit, so "commit:seen" is the kill between the store merge and
# the seen commit.
WAVE2_WRITES = [
    "commit:frontier", "commit:frontier", "merge", "commit:seen", "commit:seen",
    "commit:order", "commit:metrics", "commit:lineage",
]


class _Killed(RuntimeError):
    pass


def _kill_engine(spark, corpus, path):
    return CrawlEngine(
        spark, SnapshotStore(path), corpus["pages"], corpus["robots"],
        corpus["politeness"], use_bloom="cuckoo", compact_every=2,
        compact_seen_every=2,
    )


def _full_state(eng, skip_wave=None):
    seen, order = _state(eng)
    frontier = {(r.canon_url, r.seq, r.status) for r in eng.frontier().collect()}
    return seen, frontier, [o for o in order if o[0] != skip_wave]


@pytest.fixture
def wave2_writes(monkeypatch):
    """Record wave 2's writes; ``kill_at`` makes the k-th one raise."""
    from literature_crawler_spark.operators.cuckoo import BucketedCuckooStore

    real_commit = SnapshotStore.commit
    real_fold = BucketedCuckooStore._fold_by_bucket
    rec = {"on": False, "events": [], "kill_at": None}

    def step(name):
        if rec["on"]:
            rec["events"].append(name)
            if len(rec["events"]) - 1 == rec["kill_at"]:
                raise _Killed(name)

    def commit(self, table, df, *args, **kwargs):
        step(f"commit:{table}")
        return real_commit(self, table, df, *args, **kwargs)

    def fold(self, *args, **kwargs):
        out = real_fold(self, *args, **kwargs)
        step("merge")
        return out

    monkeypatch.setattr(SnapshotStore, "commit", commit)
    monkeypatch.setattr(BucketedCuckooStore, "_fold_by_bucket", fold)
    return rec


@pytest.fixture(scope="module")
def kill_base(spark, corpus, tmp_path_factory):
    """The state after wave 1 (each kill case resumes a copy of it) and
    the uninterrupted run to wave 3."""
    base = str(tmp_path_factory.mktemp("kill_base"))
    _kill_engine(spark, corpus, base).run(corpus["seeds"], max_waves=1)
    straight = str(tmp_path_factory.mktemp("kill_straight"))
    shutil.copytree(base, straight, dirs_exist_ok=True)
    eng = _kill_engine(spark, corpus, straight)
    eng.run(max_waves=2)
    return base, _full_state(eng, skip_wave=2)


@pytest.mark.parametrize("k", range(len(WAVE2_WRITES)), ids=lambda k: f"{k}-{WAVE2_WRITES[k]}")
def test_kill_anywhere_in_wave_resumes(spark, corpus, tmp_path, kill_base, wave2_writes, k):
    """Kill wave 2 at any of its writes, resume with a new engine: the
    seen set, the frontier and every other wave's crawl order equal the
    uninterrupted run's (the killed wave's audit rows may be lost), and
    the store is the committed seen generation, each key held once."""
    base, want = kill_base
    p = str(tmp_path / "killed")
    shutil.copytree(base, p)
    wave2_writes.update(on=True, kill_at=k)
    with pytest.raises(_Killed):
        _kill_engine(spark, corpus, p).run_wave(2)
    assert wave2_writes["events"] == WAVE2_WRITES[: k + 1]
    wave2_writes["on"] = False
    spark.catalog.clearCache()

    resumed = _kill_engine(spark, corpus, p)
    resumed.run(max_waves=3 - resumed.last_wave())
    assert _full_state(resumed, skip_wave=2) == want
    _assert_store_is_seen(resumed)


def test_two_phase_choice_survives_restart(spark, tmp_path):
    """The hot-host backlog estimate behind two_phase='auto' rides the
    frontier manifests: an engine resumed after wave 1 makes the same
    two_phase choice as an uninterrupted one, here on a hub page whose
    100 same-host links put the host's backlog over
    AUTO_TWO_PHASE_RATIO x budget. A requeue retract keeps the estimate."""
    from literature_crawler_spark.plans.crawl import AUTO_TWO_PHASE_RATIO

    hub = "https://h0.example.org/hub"
    pages = spark.createDataFrame(
        [(hub, "h0.example.org", [f"https://h0.example.org/p{i}" for i in range(100)], "", "i0")],
        "url string, host string, links array<string>, caption string, image_id string",
    )
    seeds = spark.createDataFrame([(hub, 0, 0)], "url string, priority int, seq long")

    def mk(path):
        return CrawlEngine(spark, SnapshotStore(path), pages, default_budget=1)

    straight = mk(str(tmp_path / "straight"))
    straight.run(seeds, max_waves=1)
    assert straight._hot_backlog["h0.example.org"] >= AUTO_TWO_PHASE_RATIO
    assert straight._use_two_phase()
    p = str(tmp_path / "resumed")
    mk(p).run(seeds, max_waves=1)
    resumed = mk(p)
    assert resumed._use_two_phase() == straight._use_two_phase()
    straight.run_wave(2)
    resumed.run_wave(2)
    assert resumed._hot_backlog == straight._hot_backlog
    assert resumed._use_two_phase() == straight._use_two_phase()
    assert _state(resumed) == _state(straight)

    out = resumed.retract(spark.createDataFrame([(hub,)], "url string"), requeue=True)
    assert out["requeued"] == 1
    assert mk(p)._hot_backlog == straight._hot_backlog
