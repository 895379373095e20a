"""Structured Streaming front-end: seed ingestion via foreachBatch folds
into the same batch kernel (idempotent under replay), and the windowed
per-host rate monitor aggregates with a watermark."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from literature_crawler_spark.plans.state import SnapshotStore
from literature_crawler_spark.streaming import waves


def _write_seed_file(d: str, name: str, urls: list[str]) -> None:
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(urls) + "\n")


def test_seed_ingest_stream_builds_frontier(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_seed_file(
        str(src),
        "batch0.txt",
        [
            "https://h1.example.org/a",
            "https://h1.example.org/a?utm=1",  # canonicalizes to /a -> dedup
            "https://h2.example.org/b",
            "https://h2.example.org/ads/x",  # robots-denied
        ],
    )
    store = SnapshotStore(str(tmp_path / "state"))
    robots = spark.createDataFrame(
        [("*", "/ads/", False)], "host string, pattern string, allow boolean"
    )
    stream = (
        spark.readStream.schema(T.StructType([T.StructField("url", T.StringType())]))
        .text(str(src))
        .withColumnRenamed("value", "url")
    )
    q = waves.seed_ingest_stream(stream, store, robots, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)
    seen = store.read(spark, "seen")
    urls = {r.canon_url for r in seen.collect()}
    assert urls == {"https://h1.example.org/a", "https://h2.example.org/b"}
    frontier = store.read(spark, "frontier")
    assert frontier.filter(F.col("status") == "pending").count() == 2


def test_seed_ingest_is_idempotent_for_seen_urls(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_seed_file(str(src), "b0.txt", ["https://h1.example.org/a"])
    store = SnapshotStore(str(tmp_path / "state"))
    stream_schema = T.StructType([T.StructField("url", T.StringType())])

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(stream_schema)
            .text(str(src))
            .withColumnRenamed("value", "url")
        )
        q = waves.seed_ingest_stream(stream, store, None, str(tmp_path / ckpt))
        q.awaitTermination(120)

    run("ckpt1")
    # replay the same file through a FRESH checkpoint (simulates at-least-once
    # redelivery); the anti-join vs seen must keep membership exactly-once
    run("ckpt2")
    assert store.read(spark, "seen").count() == 1
    assert store.read(spark, "frontier").count() == 1


def test_seed_ingest_then_waves_keep_manifest_totals(spark, tmp_path):
    """Stream ingest writes the manifest fields the wave loop reads (seen
    ``total``, frontier ``pending`` and ``max_seq``), so the seen total
    stays equal to the seen row count after an engine wave."""
    from literature_crawler_spark.plans.crawl import CrawlEngine
    from literature_crawler_spark.sources import synthetic as syn

    src = tmp_path / "src"
    src.mkdir()
    seeds = syn.generate_seeds(spark, 14, 300, 8).collect()
    _write_seed_file(str(src), "seeds.txt", [r.url for r in seeds])
    store = SnapshotStore(str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(T.StructType([T.StructField("url", T.StringType())]))
        .text(str(src))
        .withColumnRenamed("value", "url")
    )
    q = waves.seed_ingest_stream(stream, store, None, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    frontier_meta = store.latest("frontier")["meta"]
    frontier = store.read(spark, "frontier")
    assert frontier_meta["pending"] == frontier.count()
    assert frontier_meta["max_seq"] == frontier.agg(F.max("seq")).collect()[0][0]

    pages = syn.generate_pages(spark, 300, 8, with_images=False)
    eng = CrawlEngine(spark, store, pages)
    eng.run(max_waves=1)
    assert store.latest("seen")["meta"]["total"] == eng.seen().count()


def test_host_rate_monitor_windows(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        '{"ts": "2024-01-01T00:00:01", "host": "h1"}',
        '{"ts": "2024-01-01T00:00:05", "host": "h1"}',
        '{"ts": "2024-01-01T00:00:12", "host": "h1"}',
        '{"ts": "2024-01-01T00:00:03", "host": "h2"}',
    ]
    with open(os.path.join(str(src), "e.json"), "w") as f:
        f.write("\n".join(rows))
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("host", T.StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out = waves.host_rate_monitor(stream, window="10 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start.isoformat(), r.host): r.n_fetches
        for r in spark.sql("SELECT * FROM rates").collect()
    }
    assert got == {
        ("2024-01-01T00:00:00", "h1"): 2,
        ("2024-01-01T00:00:10", "h1"): 1,
        ("2024-01-01T00:00:00", "h2"): 1,
    }


def test_politeness_rate_limiter_stateful(spark, tmp_path):
    """applyInPandasWithState token bucket: admission state persists
    ACROSS micro-batches — a host that exhausts its budget in batch 1 is
    capped in batch 2, and an idle host's unused tokens carry over (up to
    the cap). maxFilesPerTrigger=1 forces one batch per file."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from literature_crawler_spark.streaming import waves

    src = tmp_path / "cands"
    os.makedirs(str(src))
    # batch 1: h1 floods (10 urls), h2 under-uses (1 url -> banks tokens)
    with open(str(src / "a.json"), "w") as f:
        f.write("\n".join(
            [_json.dumps({"host": "h1", "canon_url": f"https://h1/{i:02d}"}) for i in range(10)]
            + [_json.dumps({"host": "h2", "canon_url": "https://h2/seed"})]
        ))
    # batch 2: h1 floods again (10 more), h2 bursts 8
    with open(str(src / "b.json"), "w") as f:
        f.write("\n".join(
            [_json.dumps({"host": "h1", "canon_url": f"https://h1/x{i:02d}"}) for i in range(10)]
            + [_json.dumps({"host": "h2", "canon_url": f"https://h2/{i}"}) for i in range(8)]
        ))
    schema = T.StructType(
        [T.StructField("host", T.StringType()), T.StructField("canon_url", T.StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out = waves.politeness_rate_limiter(stream, budget_per_batch=4)
    q = (
        out.writeStream.format("memory")
        .queryName("admitted")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM admitted").collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r.canon_url)
    # h1: batch1 admits 4 (budget), batch2 admits 4 (refill) -> 8 total,
    # never more than budget per batch despite 20 candidates
    assert len(by_host["h1"]) == 8
    assert sorted(by_host["h1"])[:4] == [f"https://h1/{i:02d}" for i in range(4)]
    # h2 admitted 1 of 4 tokens in batch 1, banked 3 + refill 4 = 7 ->
    # bursts 7 of its 8 batch-2 candidates (8 total across the stream)
    assert len(by_host["h2"]) == 8
    assert all(1 <= r.admitted_rank <= 8 for r in rows)
