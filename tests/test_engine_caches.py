"""The engine's per-engine input caches, its per-wave checkpoint fences
and the snapshot store's schema memo change nothing but speed: a wave run
after every cache is dropped still matches the oracle, a resumed engine
numbers new URLs from the manifest's seq high-water mark, fences do not
pile up across waves, and memo reads return what an inferring read
returns."""

import gc
import json
import time

import pytest

from literature_crawler_spark.oracle import crawl_oracle as co
from literature_crawler_spark.plans.crawl import CrawlEngine
from literature_crawler_spark.plans.state import SnapshotStore
from literature_crawler_spark.sources import synthetic as syn

N_PAGES, N_HOSTS, N_SEEDS = 300, 8, 25
METRIC_TYPES = [
    ("wave", "int"), ("scheduled", "bigint"), ("fetched", "bigint"),
    ("new_urls", "bigint"), ("pending_next", "bigint"),
]
TABLES = ("frontier", "seen", "order", "metrics", "lineage")


@pytest.fixture(scope="module")
def corpus(spark):
    return {
        "pages": syn.generate_pages(spark, N_PAGES, N_HOSTS, with_images=False),
        "seeds": syn.generate_seeds(spark, N_SEEDS, N_PAGES, N_HOSTS),
        "robots": syn.generate_robots(spark),
        "politeness": syn.generate_politeness(spark, N_HOSTS),
    }


def _engine(spark, corpus, root, **kw):
    return CrawlEngine(
        spark, SnapshotStore(root), corpus["pages"], corpus["robots"],
        corpus["politeness"], **kw,
    )


def _oracle(corpus, max_waves):
    seeds = [r.url for r in corpus["seeds"].orderBy("seq").collect()]
    robots = [(r.host, r.pattern, r.allow) for r in corpus["robots"].collect()]
    budgets = {r.host: r.budget_per_wave for r in corpus["politeness"].collect()}
    return co.run_oracle(
        syn.python_corpus(N_PAGES, N_HOSTS), seeds, robots, budgets, max_waves=max_waves
    )


def _assert_matches_oracle(eng, want):
    order = [
        (r.wave, r.seq, r.canon_url)
        for r in eng.crawl_order().orderBy("wave", "seq").collect()
    ]
    assert order == want["order"]
    assert {r.canon_url for r in eng.seen().collect()} == want["seen"]


def test_wave_after_clear_cache_matches_oracle(spark, corpus, tmp_path):
    """Wave 3 runs with every cache dropped and from a frontier manifest
    that predates the ``max_seq`` field, so it also takes the fallback
    that scans the frontier for the seq high-water mark."""
    eng = _engine(spark, corpus, str(tmp_path / "st"))
    eng.run(corpus["seeds"], max_waves=2)
    head = eng.store.latest("frontier")
    del head["meta"]["max_seq"]
    with open(eng.store._manifest_path("frontier", head["id"]), "w") as f:
        json.dump(head, f)
    spark.catalog.clearCache()
    m = eng.run_wave(3)

    want = _oracle(corpus, 3)
    assert m["scheduled"] and want["metrics"][-1]["wave"] == 3
    _assert_matches_oracle(eng, want)


def test_resumed_engine_reads_max_seq_from_manifest(spark, corpus, tmp_path, monkeypatch):
    """Every frontier commit carries the seq high-water mark, so a fresh
    engine on a committed store numbers its first wave's new URLs exactly
    as the oracle does without scanning the frontier for max(seq)."""
    root = str(tmp_path / "mx")
    _engine(spark, corpus, root).run(corpus["seeds"], max_waves=2)

    def no_scan(frontier):
        raise AssertionError("frontier scanned for max(seq)")

    monkeypatch.setattr(CrawlEngine, "_scan_max_seq", staticmethod(no_scan))
    eng = _engine(spark, corpus, root)
    (m,) = eng.run(max_waves=1)
    assert m["wave"] == 3 and m["new_urls"]
    _assert_matches_oracle(eng, _oracle(corpus, 3))

    # the mark is the frontier's max seq, and a requeue merge carries it
    meta = eng.store.latest("frontier")["meta"]
    assert meta["max_seq"] == eng.frontier().agg({"seq": "max"}).collect()[0][0]
    url = eng.crawl_order().filter("wave = 1").first().canon_url
    eng.retract(spark.createDataFrame([(url,)], "url string"), requeue=True)
    assert eng.store.latest("frontier")["meta"]["max_seq"] == meta["max_seq"]


def _persistent_rdds(spark, at_most=None, timeout_s=10.0):
    """Cached/checkpointed RDD count after Python and JVM garbage
    collection; polled until it is at most ``at_most`` (or stops
    falling when None), for up to ``timeout_s``."""
    sc = spark.sparkContext
    deadline = time.monotonic() + timeout_s
    last = None
    while True:
        gc.collect()
        spark._jvm.System.gc()
        n = sc._jsc.sc().getPersistentRDDs().size()
        done = n <= at_most if at_most is not None else n == last
        if done or time.monotonic() > deadline:
            return n
        last = n
        time.sleep(0.5)


def test_wave_fences_do_not_pile_up(spark, corpus, tmp_path):
    """A wave's checkpoint fences are freed once it returns: the cached
    RDD count after 7 waves is no higher than after 2."""
    eng = _engine(spark, corpus, str(tmp_path / "pile"))
    eng.run(corpus["seeds"], max_waves=2)
    after_2 = _persistent_rdds(spark)
    for wave in range(3, 8):
        eng.run_wave(wave)
    after_7 = _persistent_rdds(spark, at_most=after_2)
    assert after_7 <= after_2


def test_old_and_new_metrics_rows_read_back_typed(spark, corpus, tmp_path):
    """A store whose metrics table starts with a row built by
    createDataFrame (the earlier engine) keeps reading it next to the
    rows the engine now builds on the JVM, under one schema."""
    root = str(tmp_path / "mx")
    store = SnapshotStore(root)
    store.commit(
        "metrics",
        spark.createDataFrame(
            [(0, 7, 6, 5, 4)],
            "wave int, scheduled long, fetched long, new_urls long, pending_next long",
        ),
        mode="append", wave=0,
    )
    eng = CrawlEngine(
        spark, store, corpus["pages"], corpus["robots"], corpus["politeness"]
    )
    (m,) = eng.run(corpus["seeds"], max_waves=1)
    want = {
        (0, 7, 6, 5, 4),
        (1, m["scheduled"], m["fetched"], m["new_urls"], m["pending_next"]),
    }
    for reader in (store, SnapshotStore(root)):  # memo read, inferring read
        df = reader.read(spark, "metrics")
        assert df.dtypes == METRIC_TYPES
        assert {tuple(r) for r in df.collect()} == want


def test_schema_memo_reads_equal_inferred_reads(spark, corpus, tmp_path):
    """After waves that merge, append, compact and expire, each table read
    through the committing store (schema memo, no inference job) equals a
    read through a fresh store on the same root (schema inferred)."""
    root = str(tmp_path / "memo")
    eng = _engine(spark, corpus, root, compact_every=2)
    eng.run(corpus["seeds"], max_waves=2)
    fresh = SnapshotStore(root)
    sc = spark.sparkContext
    try:
        for table in TABLES:
            group = f"memo-read-{table}"
            sc.setJobGroup(group, group)
            memo = eng.store.read(spark, table)
            assert sc.statusTracker().getJobIdsForGroup(group) == [], table
            inferred = fresh.read(spark, table)
            assert memo.schema == inferred.schema, table
            assert sorted(memo.collect(), key=repr) == sorted(
                inferred.collect(), key=repr
            ), table
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
