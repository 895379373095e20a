"""End-to-end determinism: CrawlEngine vs the single-threaded oracle.

FIXTURES.md invariants 1-2: final seen-set equality and exact crawl-order
equality under the identical seed list + politeness budget.
"""

import pytest
from pyspark.sql import functions as F

from literature_crawler_spark.oracle import crawl_oracle as co
from literature_crawler_spark.plans.crawl import CrawlEngine
from literature_crawler_spark.plans.state import SnapshotStore
from literature_crawler_spark.sources import synthetic as syn

N_PAGES, N_HOSTS, N_SEEDS, MAX_WAVES = 600, 12, 40, 4


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("corpus")
    pages = syn.generate_pages(spark, N_PAGES, N_HOSTS, with_images=False)
    pages.write.mode("overwrite").parquet(str(root / "pages"))
    return {
        "pages": spark.read.parquet(str(root / "pages")),
        "seeds": syn.generate_seeds(spark, N_SEEDS, N_PAGES, N_HOSTS),
        "robots": syn.generate_robots(spark),
        "politeness": syn.generate_politeness(spark, N_HOSTS),
    }


def _oracle_result(spark, corpus):
    seeds = [r.url for r in corpus["seeds"].orderBy("seq").collect()]
    robots = [(r.host, r.pattern, r.allow) for r in corpus["robots"].collect()]
    budgets = {r.host: r.budget_per_wave for r in corpus["politeness"].collect()}
    return co.run_oracle(
        syn.python_corpus(N_PAGES, N_HOSTS), seeds, robots, budgets, max_waves=MAX_WAVES
    )


@pytest.fixture(scope="module")
def engine_result(spark, corpus, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("state")))
    eng = CrawlEngine(
        spark, store, corpus["pages"], corpus["robots"], corpus["politeness"]
    )
    metrics = eng.run(corpus["seeds"], max_waves=MAX_WAVES)
    return eng, metrics


def test_seen_set_matches_oracle(spark, corpus, engine_result):
    eng, _ = engine_result
    want = _oracle_result(spark, corpus)["seen"]
    got = {r.canon_url for r in eng.seen().collect()}
    assert got == want


def test_crawl_order_matches_oracle(spark, corpus, engine_result):
    eng, _ = engine_result
    want = _oracle_result(spark, corpus)["order"]
    got = [
        (r.wave, r.seq, r.canon_url)
        for r in eng.crawl_order().orderBy("wave", "seq").collect()
    ]
    assert got == want


def test_wave_metrics_match_oracle(spark, corpus, engine_result):
    _, metrics = engine_result
    want = _oracle_result(spark, corpus)["metrics"]
    got = [
        {k: m[k] for k in ("wave", "scheduled", "fetched", "new_urls", "pending_next")}
        for m in metrics if m.get("scheduled")
    ]
    assert got == want


def test_bucketed_bloom_same_result_and_persists(spark, corpus, tmp_path_factory):
    """The maintained seen store (use_bloom='cuckoo': per-bucket cuckoo
    table files, executor-merged) must produce the identical seen set,
    write one file per touched bucket, and keep working across an engine
    restart (the generation the latest seen snapshot names is adopted)."""
    import os

    root = str(tmp_path_factory.mktemp("state_bb"))
    store = SnapshotStore(root)
    eng = CrawlEngine(
        spark, store, corpus["pages"], corpus["robots"], corpus["politeness"],
        use_bloom="cuckoo",
    )
    eng.run(corpus["seeds"], max_waves=2)
    baseline_store = SnapshotStore(str(tmp_path_factory.mktemp("state_bc")))
    base = CrawlEngine(
        spark, baseline_store, corpus["pages"], corpus["robots"],
        corpus["politeness"], use_bloom=False,
    )
    base.run(corpus["seeds"], max_waves=2)
    assert {r.canon_url for r in eng.seen().collect()} == {
        r.canon_url for r in base.seen().collect()
    }
    tables = [f for f in os.listdir(os.path.join(root, "bloom")) if f.endswith(".cuckoo")]
    assert tables, "no per-bucket cuckoo table files written"
    # restart: a fresh engine reopens the store and continues identically
    eng2 = CrawlEngine(
        spark, SnapshotStore(root), corpus["pages"], corpus["robots"],
        corpus["politeness"], use_bloom="cuckoo",
    )
    # adopted, not rebuilt: the reopened store is seen's generation
    assert eng2._seen_store.descriptor() == eng2.store.latest("seen")["meta"]["cuckoo"]
    base.run(max_waves=1)
    eng2.run(max_waves=1)
    assert {r.canon_url for r in eng2.seen().collect()} == {
        r.canon_url for r in base.seen().collect()
    }


def test_frontier_delta_commits_are_bounded(spark, corpus, engine_result):
    """Each wave's frontier snapshot must hold only O(scheduled + new)
    rows (merge delta), never a full-frontier rewrite (round-1 behavior).
    The reconciled read must still contain every discovered URL exactly
    once."""
    eng, metrics = engine_result
    store = eng.store
    manifests = store.snapshots("frontier")
    by_wave = {m["wave"]: m for m in manifests if m["mode"] == "merge"}
    for m in metrics:
        if not m.get("scheduled"):
            continue
        snap = by_wave[m["wave"]]
        raw = spark.read.parquet(store._sdir("frontier", snap["id"]))
        assert raw.count() == m["scheduled"] + m["new_urls"], m
    frontier = eng.frontier()
    assert frontier.count() == frontier.select("url_hash").distinct().count()
    assert frontier.count() == eng.seen().count()  # one row per discovered URL


def test_politeness_budget_respected(spark, corpus, engine_result):
    eng, _ = engine_result
    budgets = {r.host: r.budget_per_wave for r in corpus["politeness"].collect()}
    per_wave_host = (
        eng.crawl_order().groupBy("wave", "host").count().collect()
    )
    for r in per_wave_host:
        assert r["count"] <= budgets[r.host], (r.wave, r.host, r["count"])
