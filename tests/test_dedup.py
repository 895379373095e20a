"""Dedup suite: exact, MinHash-LSH vs exact-Jaccard oracle, SimHash."""

import pytest
from pyspark.sql import functions as F

from literature_crawler_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today", 1),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today!", 2),  # near-dup of 1
    (3, "completely unrelated text about spark dataframes and shuffle partitions", 3),
    (4, "The Quick Brown Fox jumps over the lazy dog near the river bank today", 4),  # case-dup of 1
    (5, "another document discussing politeness budgets for web crawl scheduling", 5),
    (6, "the quick brown fox jumps over the lazy dog near the river bank today", 6),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text", "ord"])


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0].doc_ids == [1, 4, 6]  # case-normalized fingerprint


def test_dedup_keep_first(docs):
    kept = dedup.dedup_exact_keep_first(docs, "text", "ord")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3, 5]


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert (1, 4) in pairs and (1, 6) in pairs
    assert not any(3 in p or 5 in p for p in pairs)


def test_lsh_agrees_with_exact_jaccard(docs):
    """Every LSH pair's Jaccard must equal the exact exploded-join Jaccard."""
    lsh = {(r.id_a, r.id_b): r.jaccard for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=0.3).collect()}
    exact = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3).collect()}
    for pair, j in lsh.items():
        assert abs(exact[pair] - j) < 1e-6
    # LSH is allowed to miss pairs, never to invent them
    assert set(lsh) <= set(exact)


def test_simhash_near_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_near_dups(docs, "text", "doc_id", max_hamming=4).collect()}
    assert (1, 6) in pairs  # identical token stream
    assert (1, 4) in pairs  # case-folded tokens identical
    assert not any((3 in p or 5 in p) for p in pairs)


def test_exact_dedup_on_documents_table(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = dedup.dedup_exact_keep_first(df, "text", "doc_id").count()
    assert 0 < kept <= df.count()


def test_simhash_blocks_scale_with_max_hamming(spark):
    """Candidate blocks derive from max_hamming (d+1 disjoint blocks):
    a pair at Hamming distance 5 whose differing bits land in 5 distinct
    16-bit quarters would NEVER share a block under a fixed 4-block
    split, but must be found with max_hamming=5. Cross-checked against
    the brute-force all-pairs Hamming filter on the same hashes."""
    import itertools

    from pyspark.sql import functions as F

    from literature_crawler_spark.functions import hashing, text as tx

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    words = base.split()
    texts = [" ".join(words)]
    for i in range(12):
        w = list(words)
        w[i * 2 % len(w)] = f"tok{i}"
        if i % 3 == 0:
            w[(i * 5 + 7) % len(w)] = f"alt{i}"
        texts.append(" ".join(w))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sims = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id",
            hashing.simhash64(
                F.transform(tx.word_tokens(F.col("text")), lambda t: F.xxhash64(t))
            ).alias("sh"),
        ).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for d in (3, 5, 6):
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sims), 2)
            if ham(sims[a], sims[b]) <= d
        }
        got = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_near_dups(
                docs, "text", "doc_id", max_hamming=d
            ).collect()
        }
        assert got == want, f"max_hamming={d}: {got ^ want}"


def test_simhash_max_hamming_zero_is_exact(docs):
    """max_hamming=0 (one block = the whole 64-bit hash) is admitted by
    the guard, so the band mask must not overflow LongType at width 64;
    the result is exact-simhash equality pairs only."""
    import itertools

    from literature_crawler_spark.functions import hashing as hsh, text as tx

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_dups(
            docs, "text", "doc_id", max_hamming=0
        ).collect()
    }
    assert all(h == 0 for _, _, h in got)
    sims = {
        r._id: r.sh
        for r in docs.select(
            F.col("doc_id").alias("_id"),
            hsh.simhash64(
                F.transform(tx.word_tokens(F.col("text")), lambda t: F.xxhash64(t))
            ).alias("sh"),
        ).collect()
    }
    want = {
        (a, b, 0)
        for a, b in itertools.combinations(sorted(sims), 2)
        if sims[a] == sims[b]
    }
    assert got == want


def test_minhash_rejects_non_divisible_bands(docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(docs, "text", "doc_id", n_perm=64, n_bands=10)


def test_prefix_jaccard_equals_quadratic(docs):
    """The prefix-filtered join is EXACT: identical pairs and values to
    the brute-force exploded self-join at multiple thresholds."""
    for t in (0.3, 0.5, 0.8):
        brute = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold=t
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_prefix_pairs(
                docs, "text", "doc_id", threshold=t
            ).collect()
        }
        assert pref == brute, f"threshold {t}: {pref} != {brute}"


def test_prefix_jaccard_equals_quadratic_on_documents(spark):
    """Same equality on the driver fixture corpus (real text + injected
    truncation near-dups, the doc_ngram_jaccard entry's shape)."""
    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    near = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring(F.col("text"), 1, F.length("text") - 12).alias("text"),
    )
    corpus = d.unionByName(near)
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.5).collect()
    }
    pref = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_prefix_pairs(corpus, "text", "doc_id", threshold=0.5).collect()
    }
    assert len(brute) > 0  # non-trivial fixture
    assert pref == brute


def test_prefix_excludes_stop_shingles(spark):
    """The scale mechanism itself: a shingle shared by EVERY document (a
    boilerplate header) must stay out of every document's prefix — it
    sorts last under rare-first ordering — so the O(n^2) group the naive
    join would build on it never forms. Documents here are mostly unique
    content plus the universal header."""
    from literature_crawler_spark.functions import text as tx
    from literature_crawler_spark.operators.dedup import _prefix_tokens

    header = "common boilerplate header"
    rows = [
        (
            i,
            header
            + f" body {i} "
            + " ".join(f"tok{i}q{j}r{j}" for j in range(14)),
        )
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = df.select(
        F.col("doc_id").alias("_id"),
        F.explode(tx.char_ngrams(F.col("text"), 5)).alias("sh"),
    )
    # threshold 0.7 -> prefix ~30% of each doc's shingles; unique body
    # shingles outnumber header shingles ~4:1, so the rare-first prefix
    # never needs to reach the universal header shingles
    pref = _prefix_tokens(sh, 0.7)
    # shingles fully inside the shared header appear in all 30 docs
    universal = {
        r.sh
        for r in sh.groupBy("sh").agg(F.count("*").alias("n"))
        .filter(F.col("n") == 30)
        .collect()
    }
    assert len(universal) > 20
    in_prefix = {
        r.sh for r in pref.select("sh").distinct().collect() if r.sh in universal
    }
    # rare-first ordering keeps universal shingles out of (nearly) every
    # prefix; allow a tiny residue for short-text edge docs
    assert len(in_prefix) == 0, f"stop-shingles leaked into prefixes: {in_prefix}"
    # and the join input is strictly smaller than the full shingle table
    assert pref.count() < sh.count()


def test_prefix_filter_lemma_property():
    """The losslessness lemma behind ngram_jaccard_prefix_pairs, checked
    directly (pure Python, no Spark): for ANY two sets with
    Jaccard >= t and ANY global total order, the prefixes of length
    |d| - ceil(t*|d|) + 1 (rare-first or otherwise - the lemma holds for
    every order) share at least one common element."""
    import math
    import random

    rng = random.Random(42)
    checked = 0
    for trial in range(2000):
        universe = list(range(rng.randint(4, 60)))
        rng.shuffle(universe)  # the global order is the list position
        pos = {tok: i for i, tok in enumerate(universe)}
        a = set(rng.sample(universe, rng.randint(2, len(universe))))
        b = set(rng.sample(universe, rng.randint(2, len(universe))))
        inter = len(a & b)
        union = len(a | b)
        t = rng.choice((0.3, 0.5, 0.7, 0.8, 0.9))
        if union == 0 or inter / union < t:
            continue
        checked += 1

        def prefix(s):
            p = len(s) - math.ceil(t * len(s)) + 1
            return set(sorted(s, key=lambda x: pos[x])[:p])

        assert prefix(a) & prefix(b), (
            f"lemma violated: t={t} a={sorted(a)} b={sorted(b)} "
            f"jaccard={inter/union:.3f}"
        )
    assert checked > 200  # the sampler actually produced qualifying pairs


def test_prefix_length_exact_at_float_boundary(spark):
    """ADVICE r5 regression: 0.07*100 is 7.000000000000001 in binary
    floats; a raw ceil on that overshoots the lemma's exact bound
    ``|d| - ceil(t*|d|) + 1`` and silently shortens every prefix by one
    at exact-boundary thresholds, pruning pairs with J exactly == t.
    The prefix length must come from the exact rational
    (round-before-ceil, same 1e-9 slack the verify's round(.,6) allows)."""
    from literature_crawler_spark.operators.dedup import _prefix_tokens

    sh = spark.createDataFrame(
        [(1, f"s{j:03d}") for j in range(100)], "_id int, sh string"
    )
    # exact bound: 100 - ceil(7) + 1 = 94; the unfixed ceil(7.0000000000001)
    # = 8 gives 93
    assert _prefix_tokens(sh, 0.07).count() == 94
    sh50 = spark.createDataFrame(
        [(1, f"s{j:03d}") for j in range(50)], "_id int, sh string"
    )
    # 0.14*50 is the same overshooting product: 50 - ceil(7) + 1 = 44
    assert _prefix_tokens(sh50, 0.14).count() == 44


def _clean_corpus(spark, n_docs=40, n_toks=25):
    """Hot-shingle-free corpus: md5-derived tokens, no shared substrings
    beyond chance hex collisions."""
    import hashlib

    rows = [
        (
            i,
            " ".join(
                hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:10]
                for j in range(n_toks)
            ),
        )
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_jaccard_dispatch_picks_measured_winner(spark):
    """choose_jaccard_path encodes the measured crossover (BENCH.md r4):
    prefix at near-dup thresholds or on hot-shingle corpora (where the
    brute join's k^2 group is the hazard), brute only for low-threshold
    scans of hot-shingle-free corpora."""
    clean = _clean_corpus(spark)
    boiler = spark.createDataFrame(
        [
            (
                i,
                "shared boilerplate license header text "
                + " ".join(f"u{i}t{j}z" for j in range(20)),
            )
            for i in range(40)
        ],
        ["doc_id", "text"],
    )
    # high threshold -> prefix regardless of corpus (no probe needed)
    assert dedup.choose_jaccard_path(clean, "text", "doc_id", threshold=0.8) == "prefix"
    # low threshold on clean text -> brute (the measured 1.3x case)
    assert dedup.choose_jaccard_path(clean, "text", "doc_id", threshold=0.5) == "brute"
    # low threshold + universal boilerplate -> prefix (the 18x hazard case)
    assert dedup.choose_jaccard_path(boiler, "text", "doc_id", threshold=0.5) == "prefix"


def test_jaccard_dispatch_ignores_partitioning(spark):
    """The crossover probe samples documents by id hash, so a corpus that
    is borderline for the sample (clean docs on one side of the id range,
    boilerplate on the other) picks the same path in every partitioning
    and row order of the same rows."""
    clean = _clean_corpus(spark, n_docs=60)
    boiler = spark.createDataFrame(
        [
            (
                100 + i,
                "shared boilerplate license header text "
                + " ".join(f"u{i}t{j}z" for j in range(20)),
            )
            for i in range(60)
        ],
        ["doc_id", "text"],
    )
    corpus = clean.unionByName(boiler)

    def pick(df):
        return dedup.choose_jaccard_path(
            df, "text", "doc_id", threshold=0.5, stat_sample=30
        )

    want = pick(corpus)
    copies = [
        corpus.orderBy("doc_id").coalesce(1),
        corpus.orderBy(F.col("doc_id").desc()).coalesce(1),
        corpus.repartition(7, "doc_id"),
        corpus.repartition(3),
    ]
    assert [pick(c) for c in copies] == [want] * len(copies)


def test_jaccard_auto_output_identical_on_both_paths(spark):
    """Dispatch never changes rows: auto == prefix == brute on a corpus
    with injected near-dups, at a threshold for each dispatch branch."""
    from pyspark.sql import functions as F

    base = _clean_corpus(spark, n_docs=20)
    near = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.substring(F.col("text"), 1, F.length("text") - 11).alias("text"),
    )
    corpus = base.unionByName(near)
    for t in (0.5, 0.8):
        want = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(
                corpus, "text", "doc_id", threshold=t
            ).collect()
        }
        got = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs_auto(
                corpus, "text", "doc_id", threshold=t
            ).collect()
        }
        assert want and got == want, f"t={t}"
