"""The engine's per-engine input caches and the snapshot store's schema
memo change nothing but speed: a wave run after every cache is dropped
still matches the oracle, and memo reads return what an inferring read
returns."""

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
TABLES = ("frontier", "seen", "order", "outcomes", "metrics", "lineage")


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


def test_wave_after_clear_cache_matches_oracle(spark, corpus, tmp_path):
    eng = _engine(spark, corpus, str(tmp_path / "st"))
    eng.run(corpus["seeds"], max_waves=2)
    spark.catalog.clearCache()
    m = eng.run_wave(3)

    seeds = [r.url for r in corpus["seeds"].orderBy("seq").collect()]
    robots = [(r.host, r.pattern, r.allow) for r in corpus["robots"].collect()]
    budgets = {r.host: r.budget_per_wave for r in corpus["politeness"].collect()}
    want = co.run_oracle(
        syn.python_corpus(N_PAGES, N_HOSTS), seeds, robots, budgets, max_waves=3
    )
    assert m["scheduled"] and want["metrics"][-1]["wave"] == 3
    order = [
        (r.wave, r.seq, r.canon_url)
        for r in eng.crawl_order().orderBy("wave", "seq").collect()
    ]
    assert order == want["order"]
    assert {r.canon_url for r in eng.seen().collect()} == want["seen"]


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
