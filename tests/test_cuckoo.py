"""Cuckoo-filter seen store: table semantics, store lifecycle, engine wiring.

The invariant under test everywhere: NO FALSE NEGATIVES for inserted keys
(a false negative re-crawls a seen URL — the correctness failure the
north rule's dedup exists to prevent). False positives are allowed and
bounded; deletes must remove only what was inserted.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from literature_crawler_spark.operators import cuckoo as ck
from literature_crawler_spark.operators.cuckoo import (
    BucketedCuckooStore,
    CuckooOverflow,
    _Table,
    rows_for,
)


def _hashes(n, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def _probe(st, df):
    """The store's verdict for every url_hash of df, in the driver."""
    h = np.array([r.url_hash for r in df.select("url_hash").collect()], dtype=np.int64)
    return st.probe_np(h)


def _occupancy(st):
    """Occupied slots over the files the store's generation names."""
    return sum(
        int(np.count_nonzero(np.fromfile(p, dtype=np.uint16)))
        for p in st.paths().values()
    )


# ------------------------------------------------------------- unit ----
class TestTable:
    def test_no_false_negatives_at_high_load(self):
        h = _hashes(3000)
        t = _Table(np.zeros((rows_for(3000), ck.SLOTS), dtype=np.uint16))
        assert t.insert_batch(h) == 0
        assert t.contains(h).all()

    def test_false_positive_rate_bounded(self):
        t = _Table(np.zeros((rows_for(3000), ck.SLOTS), dtype=np.uint16))
        assert t.insert_batch(_hashes(3000, seed=1)) == 0
        probe = _hashes(200_000, seed=2)
        fpr = t.contains(probe).mean()
        # theory ~ 2*SLOTS/2^16 * load ~ 1.2e-4; allow generous slack
        assert fpr < 2e-3, fpr

    def test_eviction_path_still_exact(self):
        # tiny table forced to heavy eviction traffic (load ~0.94)
        h = _hashes(120, seed=3)
        t = _Table(np.zeros((32, ck.SLOTS), dtype=np.uint16))
        assert t.insert_batch(h) == 0
        assert t.contains(h).all()

    def test_overflow_reports_failures(self):
        t = _Table(np.zeros((4, ck.SLOTS), dtype=np.uint16))
        assert t.insert_batch(_hashes(100, seed=4)) > 0

    def test_delete_removes_only_requested(self):
        h = _hashes(2000, seed=5)
        t = _Table(np.zeros((rows_for(2000), ck.SLOTS), dtype=np.uint16))
        assert t.insert_batch(h) == 0
        gone, kept = h[:1000], h[1000:]
        assert t.delete_batch(gone) == 1000
        # the no-false-negative invariant survives deletion of OTHER keys
        assert t.contains(kept).all()
        # deleted keys drop to (near-)zero presence: only fingerprint
        # twins sharing a row pair may still read as present
        assert t.contains(gone).mean() < 0.01

    def test_alt_index_is_an_involution(self):
        m = 1 << 10
        f = ck._fingerprints(_hashes(500, seed=6))
        i = np.arange(500) % m
        alt = ck._alt_index(i, f, m)
        back = ck._alt_index(alt, f, m)
        assert (back == i).all()

    def test_fingerprints_never_zero(self):
        assert (ck._fingerprints(_hashes(100_000, seed=8)) != 0).all()


# ------------------------------------------------------------ store ----
@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.range(20_000).select(F.xxhash64("id").alias("url_hash"))


class TestStore:
    def test_merge_probe_roundtrip(self, spark, keys_df, tmp_path):
        st = BucketedCuckooStore.create(str(tmp_path / "c1"), expected_items=40_000)
        counts = st.merge(keys_df)
        assert sum(counts.values()) == 20_000
        assert _probe(st, keys_df).all()  # no false negatives
        assert _occupancy(st) == 20_000

    def test_probe_fpr_on_fresh_keys(self, spark, keys_df, tmp_path):
        st = BucketedCuckooStore.create(str(tmp_path / "c2"), expected_items=40_000)
        st.merge(keys_df)
        fresh = spark.range(100_000, 200_000).select(F.xxhash64("id").alias("url_hash"))
        assert _probe(st, fresh).mean() < 2e-3

    def test_delete_enables_reinsert_membership_flip(self, spark, keys_df, tmp_path):
        st = BucketedCuckooStore.create(str(tmp_path / "c3"), expected_items=40_000)
        st.merge(keys_df)
        victims = keys_df.filter(F.col("url_hash") % 2 == 0)
        kept = keys_df.filter(F.col("url_hash") % 2 != 0)
        removed = st.delete(victims)
        assert sum(removed.values()) == victims.count()
        # kept keys still all present; victims (mostly) retractable
        assert _probe(st, kept).all()
        assert _probe(st, victims).mean() < 0.01
        assert _occupancy(st) == 20_000 - victims.count()

    def test_overflow_raises_and_preserves_files(self, spark, tmp_path):
        st = BucketedCuckooStore.create(
            str(tmp_path / "c4"), expected_items=64, n_buckets=4
        )
        small = spark.range(60).select(F.xxhash64("id").alias("url_hash"))
        st.merge(small)
        with pytest.raises(CuckooOverflow):
            st.merge(
                spark.range(1000, 60_000).select(F.xxhash64("id").alias("url_hash"))
            )
        # the generation is not advanced: the pre-overflow files still
        # hold every key and nothing else
        assert _probe(st, small).all()
        assert _occupancy(st) == 60

    def test_generations_are_immutable_and_adoptable(self, spark, keys_df, tmp_path):
        """merge and delete write new files and never touch the files of
        an earlier generation; the descriptor round-trips through JSON
        and ``adopt`` probes exactly what the original probes."""
        import json
        import os

        root = str(tmp_path / "c5")
        st = BucketedCuckooStore.create(root, expected_items=40_000, n_buckets=8)
        first = keys_df.filter(F.col("url_hash") % 2 == 0)
        st.merge(first)
        gen1 = st.descriptor()
        before = {p: os.stat(p).st_mtime_ns for p in st.paths().values()}
        st.merge(keys_df.filter(F.col("url_hash") % 2 != 0))
        st.delete(first.limit(100))
        assert st.descriptor()["gen"] == gen1["gen"] + 2
        assert {p: os.stat(p).st_mtime_ns for p in before} == before
        old = BucketedCuckooStore.adopt(root, json.loads(json.dumps(gen1)))
        assert _occupancy(old) == first.count()
        new = BucketedCuckooStore.adopt(root, json.loads(json.dumps(st.descriptor())))
        assert (_probe(new, keys_df) == _probe(st, keys_df)).all()
        assert _occupancy(new) == 20_000 - 100
        # dropping the unnamed files leaves exactly the live generation
        new.drop_unnamed()
        assert sorted(os.listdir(root)) == sorted(
            os.path.basename(p) for p in new.paths().values()
        )

    def test_retried_merge_has_single_occupancy(self, spark, keys_df, tmp_path):
        """A merge re-run from the same parent descriptor (a retried fold)
        reads the same immutable parent files, so it holds each key once,
        like the first run, and leaves the first run's files untouched."""
        root = str(tmp_path / "c6")
        st = BucketedCuckooStore.create(root, expected_items=40_000)
        st.merge(keys_df.filter(F.col("url_hash") % 3 == 0))
        parent = st.descriptor()
        delta = keys_df.filter(F.col("url_hash") % 3 != 0)
        st.merge(delta)
        retry = BucketedCuckooStore.adopt(root, parent)
        retry.merge(delta)
        assert retry.gen > st.gen and set(retry.files) == set(st.files)
        assert _occupancy(retry) == _occupancy(st) == 20_000
        assert _probe(retry, keys_df).all() and _probe(st, keys_df).all()


# ----------------------------------------------------------- engine ----
class TestEngineWiring:
    def test_cuckoo_crawl_equals_exact_crawl(self, spark, tmp_path):
        from literature_crawler_spark.plans.crawl import CrawlEngine
        from literature_crawler_spark.plans.state import SnapshotStore
        from literature_crawler_spark.sources import synthetic as syn

        pages = syn.generate_pages(spark, 300, 8, with_images=False)
        seeds = syn.generate_seeds(spark, 25, 300, 8)
        results = {}
        for mode in (False, "cuckoo"):
            store = SnapshotStore(str(tmp_path / f"st_{mode}"))
            eng = CrawlEngine(spark, store, pages, use_bloom=mode)
            eng.run(seeds, max_waves=3)
            results[mode] = {
                "seen": {r.canon_url for r in eng.seen().collect()},
                "order": [
                    (r.wave, r.seq, r.canon_url)
                    for r in eng.crawl_order().orderBy("seq").collect()
                ],
            }
        assert results["cuckoo"]["seen"] == results[False]["seen"]
        assert results["cuckoo"]["order"] == results[False]["order"]

    def test_retract_and_recrawl(self, spark, tmp_path):
        """Both retract modes end-to-end. requeue=True (recrawl): the URL
        KEEPS its seen/store membership — it is still in the frontier, so
        link re-discovery must keep deduping against it (removing it
        would re-admit it as 'new' with a fresh seq in the same wave as
        its outcome row) — and the next wave re-schedules it under its
        original seq. requeue=False (forget): the key leaves seen and the
        cuckoo store deletes it in place."""
        from pyspark.sql import functions as F

        from literature_crawler_spark.plans.crawl import CrawlEngine
        from literature_crawler_spark.plans.state import SnapshotStore
        from literature_crawler_spark.sources import synthetic as syn

        pages = syn.generate_pages(spark, 200, 6, with_images=False)
        seeds = syn.generate_seeds(spark, 15, 200, 6)
        store = SnapshotStore(str(tmp_path / "rt"))
        eng = CrawlEngine(spark, store, pages, use_bloom="cuckoo")
        eng.run(seeds, max_waves=2)
        order = eng.crawl_order().orderBy("seq").limit(2).collect()
        victim, victim2 = order[0], order[1]
        before = eng.seen().count()

        out = eng.retract(
            spark.createDataFrame([(victim.canon_url,)], "url string"), requeue=True
        )
        assert out == {"retracted": 0, "matched": 1, "requeued": 1}
        # membership retained: seen unchanged, store still hits — links to
        # the requeued URL keep deduping while it waits in the frontier
        assert eng.seen().count() == before
        assert (
            eng.seen().filter(F.col("canon_url") == victim.canon_url).count() == 1
        )
        probed = eng.frontier().filter(F.col("canon_url") == victim.canon_url)
        assert _probe(eng._seen_store, probed).tolist() == [True]
        # next wave re-schedules the requeued row (same seq, new wave)
        next_wave = (eng.last_wave() or 0) + 1
        eng.run_wave(next_wave)
        reorder = eng.crawl_order().filter(
            (F.col("wave") == next_wave) & (F.col("canon_url") == victim.canon_url)
        )
        assert reorder.count() == 1
        assert reorder.collect()[0].seq == victim.seq

        # forget path: seen shrinks and the cuckoo store deletes in place
        before2 = eng.seen().count()  # the extra wave added new URLs
        out2 = eng.retract(
            spark.createDataFrame([(victim2.canon_url,)], "url string")
        )
        assert out2 == {"retracted": 1, "matched": 1, "requeued": 0}
        assert eng.seen().count() == before2 - 1
        assert (
            eng.seen().filter(F.col("canon_url") == victim2.canon_url).count() == 0
        )
        gone = eng.frontier().filter(F.col("canon_url") == victim2.canon_url)
        assert _probe(eng._seen_store, gone).tolist() == [False]

        # nothing eligible: zeros, whether no key matches or no matched
        # row changes status (a pending row requeued)
        nope = spark.createDataFrame([("https://nowhere.example/x",)], "url string")
        assert eng.retract(nope) == {"retracted": 0, "matched": 0, "requeued": 0}
        pending = eng.frontier().filter(F.col("status") == "pending").limit(1).collect()[0]
        out3 = eng.retract(
            spark.createDataFrame([(pending.canon_url,)], "url string"), requeue=True
        )
        assert out3 == {"retracted": 0, "matched": 1, "requeued": 0}

    def test_use_bloom_accepts_only_cuckoo_modes(self, spark, tmp_path):
        """The Bloom modes are retired: only 'auto', 'cuckoo' and False
        construct an engine; anything else raises instead of silently
        picking a path."""
        from literature_crawler_spark.plans.crawl import CrawlEngine
        from literature_crawler_spark.plans.state import SnapshotStore
        from literature_crawler_spark.sources import synthetic as syn

        pages = syn.generate_pages(spark, 20, 2, with_images=False)
        store = SnapshotStore(str(tmp_path / "modes"))
        for mode in (True, "bucketed", "x"):
            with pytest.raises(ValueError, match="use_bloom"):
                CrawlEngine(spark, store, pages, use_bloom=mode)
        for mode in ("auto", "cuckoo", False):
            assert CrawlEngine(spark, store, pages, use_bloom=mode).use_bloom == mode

    def test_engine_overflow_rebuild(self, spark, tmp_path, monkeypatch):
        """Force a tiny store so wave merges overflow: the engine must
        transparently rebuild from committed seen and still match the
        exact crawl."""
        from literature_crawler_spark.operators import cuckoo as cuckoo_mod
        from literature_crawler_spark.plans.crawl import CrawlEngine
        from literature_crawler_spark.plans.state import SnapshotStore
        from literature_crawler_spark.sources import synthetic as syn

        orig_create = cuckoo_mod.BucketedCuckooStore.create.__func__

        def tiny_create(cls, root, expected_items, n_buckets=64):
            # first creation starts absurdly small; rebuilds keep their size
            if expected_items == 2_000_000:
                expected_items = 64
            return orig_create(cls, root, expected_items, n_buckets)

        monkeypatch.setattr(
            cuckoo_mod.BucketedCuckooStore, "create", classmethod(tiny_create)
        )
        pages = syn.generate_pages(spark, 200, 6, with_images=False)
        seeds = syn.generate_seeds(spark, 20, 200, 6)
        store = SnapshotStore(str(tmp_path / "tiny"))
        eng = CrawlEngine(spark, store, pages, use_bloom="cuckoo", n_buckets=8)
        eng.run(seeds, max_waves=3)
        got = {r.canon_url for r in eng.seen().collect()}

        store2 = SnapshotStore(str(tmp_path / "exact"))
        eng2 = CrawlEngine(spark, store2, pages, use_bloom=False)
        eng2.run(seeds, max_waves=3)
        want = {r.canon_url for r in eng2.seen().collect()}
        assert got == want

    def test_adoption_refresh_capacity_is_bounded(self, spark, tmp_path):
        """Restarts adopt the store generation the latest seen snapshot
        names, as is: no rebuild, so the capacity cannot drift across
        restarts with zero key growth. A seen snapshot that names no
        generation (written by a use_bloom=False engine) is rebuilt from
        seen at the fresh-store size."""
        from literature_crawler_spark.plans.crawl import CrawlEngine
        from literature_crawler_spark.plans.state import SnapshotStore
        from literature_crawler_spark.sources import synthetic as syn

        pages = syn.generate_pages(spark, 200, 6, with_images=False)
        seeds = syn.generate_seeds(spark, 15, 200, 6)
        store = SnapshotStore(str(tmp_path / "alt"))
        eng = CrawlEngine(spark, store, pages, use_bloom="cuckoo", n_buckets=8)
        eng.run(seeds, max_waves=2)
        desc = eng._seen_store.descriptor()
        for _ in range(4):
            eng = CrawlEngine(spark, store, pages, use_bloom="cuckoo", n_buckets=8)
            assert eng._seen_store.descriptor() == desc
        CrawlEngine(spark, store, pages, use_bloom=False).run(max_waves=1)
        assert "cuckoo" not in store.latest("seen")["meta"]
        eng = CrawlEngine(spark, store, pages, use_bloom="cuckoo", n_buckets=8)
        assert eng._seen_store.bucket_rows == desc["bucket_rows"]
        assert eng._seen_store.gen > desc["gen"]
        # the rebuilt store holds every seen key exactly once
        assert _probe(eng._seen_store, eng.seen()).all()
        assert _occupancy(eng._seen_store) == eng.seen().count()

    def test_auto_upgrades_to_cuckoo_past_broadcast_ceiling(
        self, spark, tmp_path, monkeypatch
    ):
        """use_bloom='auto' self-selects the maintained cuckoo store the
        first wave after committed seen crosses BROADCAST_SEEN_MAX, and
        the upgraded crawl stays order- and seen-identical to exact mode
        — including across an engine restart (store re-adoption)."""
        from literature_crawler_spark.operators import cuckoo as cuckoo_mod
        from literature_crawler_spark.operators import frontier as fr
        from literature_crawler_spark.plans.crawl import CrawlEngine
        from literature_crawler_spark.plans.state import SnapshotStore
        from literature_crawler_spark.sources import synthetic as syn

        monkeypatch.setattr(fr, "BROADCAST_SEEN_MAX", 30)
        pages = syn.generate_pages(spark, 300, 8, with_images=False)
        seeds = syn.generate_seeds(spark, 25, 300, 8)

        store = SnapshotStore(str(tmp_path / "auto"))
        eng = CrawlEngine(spark, store, pages, use_bloom="auto", n_buckets=8)
        eng.run(seeds, max_waves=2)
        # 25 seeds + wave-1 discoveries >> 30: the store must exist now
        assert isinstance(eng._seen_store, cuckoo_mod.BucketedCuckooStore)
        assert store.latest("seen")["meta"]["cuckoo"] == eng._seen_store.descriptor()

        # resume in a fresh engine: the store is re-adopted, still cuckoo
        eng2 = CrawlEngine(spark, store, pages, use_bloom="auto", n_buckets=8)
        assert isinstance(eng2._seen_store, cuckoo_mod.BucketedCuckooStore)
        eng2.run_wave(3)

        exact = SnapshotStore(str(tmp_path / "exact"))
        enge = CrawlEngine(spark, exact, pages, use_bloom=False)
        enge.run(seeds, max_waves=3)
        got = {r.canon_url for r in eng2.seen().collect()}
        want = {r.canon_url for r in enge.seen().collect()}
        assert got == want
        got_order = [
            (r.wave, r.seq, r.canon_url)
            for r in eng2.crawl_order().orderBy("seq").collect()
        ]
        want_order = [
            (r.wave, r.seq, r.canon_url)
            for r in enge.crawl_order().orderBy("seq").collect()
        ]
        assert got_order == want_order
