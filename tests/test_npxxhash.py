"""npxxhash must be BIT-IDENTICAL to Spark's xxhash64 — it keys the seen
state tables, bucket layout, and every frontier anti-join, so a single
mismatched hash silently corrupts dedup. Property-tested over random
unicode and all XXH64 length classes, plus the fused-kernel path
(canonicalize_candidates(probe_store=...)) vs the unfused pipeline."""

from __future__ import annotations

import random
import string

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from literature_crawler_spark.functions import npxxhash


def _spark_hashes(spark, strings: list[str]) -> np.ndarray:
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "i long, s string"
    )
    rows = df.select("i", F.xxhash64("s").alias("h")).orderBy("i").collect()
    return np.array([r.h for r in rows], dtype=np.int64)


def test_boundary_lengths_match_spark(spark):
    # every XXH64 control-flow class: empty, byte tail, 4B word, 8B words,
    # exactly-one-stripe, stripe+tails, multi-stripe
    cases = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "abcdefghi", "0123456789ab", "0123456789abcde", "0123456789abcdef",
        "x" * 31, "x" * 32, "x" * 33, "x" * 39, "x" * 40, "x" * 63,
        "x" * 64, "x" * 65, "x" * 100, "x" * 127, "x" * 128,
        "héllo wörld — ünïcode ✓", "日本語テキスト", "https://h7.example.org/page/42",
    ]
    ours = npxxhash.xxhash64_arrow(pa.array(cases, type=pa.string()))
    np.testing.assert_array_equal(ours, _spark_hashes(spark, cases))


def test_random_unicode_matches_spark(spark):
    rng = random.Random(7)
    cases = []
    for _ in range(300):
        ln = rng.randint(0, 120)
        cases.append("".join(rng.choice(string.printable) for _ in range(ln)))
    for _ in range(100):
        ln = rng.randint(0, 60)
        cases.append("".join(chr(rng.randint(32, 0x2FFF)) for _ in range(ln)))
    ours = npxxhash.xxhash64_arrow(pa.array(cases, type=pa.string()))
    np.testing.assert_array_equal(ours, _spark_hashes(spark, cases))


def test_sliced_arrow_array():
    # arrow slices carry a nonzero offset; the buffer math must honor it
    arr = pa.array([f"url-{i}-{'p' * (i % 37)}" for i in range(200)])
    full = npxxhash.xxhash64_arrow(arr)
    sl = npxxhash.xxhash64_arrow(arr.slice(50, 100))
    np.testing.assert_array_equal(sl, full[50:150])


def test_length_outlier_takes_chunked_path(monkeypatch):
    """One pathological long row must not densify the whole batch to
    O(rows x longest): with the budget capped, the length-sorted chunked
    path engages and stays bit-identical to the single-chunk result."""
    rng = random.Random(11)
    vals = [
        "".join(rng.choice(string.ascii_letters) for _ in range(rng.randint(0, 90)))
        for _ in range(500)
    ]
    vals[123] = "javascript:" + "x" * 20000  # the outlier
    vals[401] = "data:text/plain," + "y" * 7777
    arr = pa.array(vals, type=pa.string())
    want = npxxhash.xxhash64_arrow(arr)  # real cap: single dense chunk
    monkeypatch.setattr(npxxhash, "_DENSE_BYTES_CAP", 4096)
    got = npxxhash.xxhash64_arrow(arr)  # forced multi-chunk
    np.testing.assert_array_equal(got, want)
    # and the outlier batch under the REAL cap must stay bounded: the
    # padded matrix for the worst chunk is <= cap, not rows x 20k
    monkeypatch.setattr(npxxhash, "_DENSE_BYTES_CAP", 1 << 26)
    big = pa.array(["u" * 1_000_000] + ["short"] * 9999, type=pa.string())
    np.testing.assert_array_equal(
        npxxhash.xxhash64_arrow(big)[1:], np.full(9999, npxxhash.xxhash64_arrow(
            pa.array(["short"])
        )[0]),
    )


def test_chunked_and_large_string():
    vals = ["alpha", "", "beta-gamma", "δ"]
    plain = npxxhash.xxhash64_arrow(pa.array(vals, type=pa.string()))
    chunked = npxxhash.xxhash64_arrow(
        pa.chunked_array([pa.array(vals[:2]), pa.array(vals[2:])])
    )
    large = npxxhash.xxhash64_arrow(pa.array(vals, type=pa.large_string()))
    np.testing.assert_array_equal(plain, chunked)
    np.testing.assert_array_equal(plain, large)


def test_fused_kernel_equals_unfused(spark, tmp_path):
    """canonicalize_candidates(probe_store=...) (hash + cuckoo probe inside
    the Arrow kernel, ONE crossing) must yield the JVM's url_hash values
    and, after the split anti-join, exactly the rows of the plain exact
    anti-join."""
    from literature_crawler_spark.operators import cuckoo as cuckoo_mod
    from literature_crawler_spark.operators import frontier as fr

    def urls(ids):
        return ids.select(
            F.col("id"),
            F.concat(
                F.lit("https://h"), (F.col("id") % 7).cast("string"),
                F.lit(".example.org/p/"), F.col("id").cast("string"),
                F.when(F.col("id") % 4 == 0, F.lit("?utm=x")).otherwise(F.lit("")),
            ).alias("url"),
        )

    seen = fr.canonicalize_candidates(
        urls(spark.range(0, 3000, 3)), output_cols=[]
    ).select("url_hash").persist()
    seen_n = seen.count()

    store = cuckoo_mod.BucketedCuckooStore.create(
        str(tmp_path / "cuckoo"), expected_items=5000, n_buckets=8
    )
    store.merge(seen)

    cand_f = fr.canonicalize_candidates(
        urls(spark.range(3000)), output_cols=["id"], probe_store=store
    )
    # kernel hash == JVM xxhash64 on the canon form, row for row
    assert (
        cand_f.withColumn("jh", F.xxhash64("canon_url"))
        .filter(F.col("jh") != F.col("url_hash"))
        .count()
        == 0
    )
    new_f = fr.dedup_against_seen(spark, cand_f, seen, expected_seen=seen_n)
    cand_u = fr.canonicalize_candidates(urls(spark.range(3000)), output_cols=["id"])
    new_u = cand_u.join(seen, "url_hash", "left_anti")
    got = sorted(r.canon_url for r in new_f.select("canon_url").collect())
    want = sorted(r.canon_url for r in new_u.select("canon_url").collect())
    assert got == want
    assert "_maybe_seen" not in new_f.columns
    seen.unpersist()
