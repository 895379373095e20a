"""Edge-case gates for the round-4 review fixes: RIS duplicate/ordered
tags, paired meta-content quotes, ANSI-safe politeness casts, preview
variant dedup, and empty-document minhash signatures."""

from pyspark.sql import functions as F

from literature_crawler_spark.functions import hashing, html as H
from literature_crawler_spark.operators import assets
from literature_crawler_spark.operators.politeness import wave_cadence_ok
from literature_crawler_spark.sources import ris
from literature_crawler_spark.sources import robots as rb


def test_ris_duplicate_scalar_tag_keeps_last(spark, tmp_path):
    """A repeated scalar tag must not abort the read (DUPLICATED_MAP_KEY)
    and must keep the LAST occurrence, matching the reference parser's
    dict overwrite (parse_entry: data[key] = value)."""
    body = (
        "TY  - JOUR\n"
        "UR  - https://example.org/first\n"
        "TI  - Duplicate URL record\n"
        "UR  - https://example.org/second\n"
        "AU  - Zeta, Ann\n"
        "AU  - Alpha, Bob\n"
        "ER  - \n"
    )
    p = tmp_path / "dup.ris"
    p.write_text(body)
    r = ris.read_ris(spark, str(p)).collect()[0]
    assert r.url == "https://example.org/second"
    # multi-value tags stay in document order even when unsorted names
    # would alphabetize differently
    assert r.authors == ["Zeta, Ann", "Alpha, Bob"]


def test_extract_meta_quote_pairing(spark):
    """content="..." may contain apostrophes and content='...' may contain
    double quotes; the grammar must pair its delimiters per alternative
    instead of truncating at the first foreign quote."""
    rows = (
        spark.createDataFrame(
            [
                ('<meta name="description" content="O\'Brien et al say \'hi\'">',),
                ("<meta name='description' content='a \"quoted\" word'>",),
                ('<meta content="O\'Hara first" name="description">',),
            ],
            ["html"],
        )
        .select(H.extract_meta(F.col("html"), "description").alias("d"))
        .collect()
    )
    assert rows[0].d == "O'Brien et al say 'hi'"
    assert rows[1].d == 'a "quoted" word'
    assert rows[2].d == "O'Hara first"


def test_extract_meta_whitespace_only_falls_through(spark):
    """A whitespace-only content match from an earlier pattern must not
    win the coalesce and mask a real value a later alternative finds
    (the old per-alternative trim+nullif fall-through semantics); the
    winning value itself is returned verbatim, untrimmed."""
    rows = (
        spark.createDataFrame(
            [
                (
                    '<meta name="description" content="  ">'
                    '<meta content="real value" name="description">',
                ),
                ('<meta name="description" content=" padded ">',),
            ],
            ["html"],
        )
        .select(H.extract_meta(F.col("html"), "description").alias("d"))
        .collect()
    )
    assert rows[0].d == "real value"
    assert rows[1].d == " padded "


def test_crawl_delay_garbage_and_comment_interleave(spark):
    """A non-numeric Crawl-delay reads as absent (not an ANSI cast abort),
    and a comment/blank line between consecutive User-agent lines must not
    split the UA run that makes the group applicable."""
    body = (
        "User-agent: first\n"
        "# interleaved comment must not split the UA run\n"
        "\n"
        "User-agent: *\n"
        "Crawl-delay: 1.5\n"
        "\n"
        "User-agent: broken\n"
        "Crawl-delay: abc\n"
    )
    df = spark.createDataFrame([("h.org", body)], "host string, body string")
    assert {(r.host, r.min_interval_ms) for r in rb.crawl_delay_of(df).collect()} == {
        ("h.org", 1500)
    }
    # the '*' group is shared with agent 'first' across the comment/blank
    assert {
        (r.host, r.min_interval_ms)
        for r in rb.crawl_delay_of(df, agent="first").collect()
    } == {("h.org", 1500)}
    # 'broken' selects its own group; its garbage delay reads as absent
    assert rb.crawl_delay_of(df, agent="broken").count() == 0


def test_wave_cadence_zero_interval(spark):
    """min_interval_ms = 0 ('Crawl-delay: 0') means no per-request spacing:
    the host keeps its full budget instead of aborting on DIVIDE_BY_ZERO."""
    df = spark.createDataFrame(
        [("a.org", 10, 0), ("b.org", 10, 500), ("c.org", 10, 50)],
        "host string, budget_per_wave int, min_interval_ms int",
    )
    out = {r.host: r.effective_budget for r in wave_cadence_ok(df, 1000).collect()}
    assert out == {"a.org": 10, "b.org": 2, "c.org": 10}


def test_preview_variant_dedup(spark):
    """A stem with several non-full variants yields exactly ONE pair row,
    preferring the explicit preview marker over thumb over path order."""
    df = spark.createDataFrame(
        [
            (1, "figs/fig1_full.png"),
            (2, "figs/fig1_thumb.png"),
            (3, "figs/fig1_preview.png"),
            (4, "figs/fig1.png"),
            (5, "figs/fig2_full.png"),
            (6, "zz/fig2.png"),
            (7, "aa/fig2.png"),
        ],
        ["asset_id", "oss_path"],
    )
    rows = assets.pair_figures_with_previews(df).collect()
    by_stem = {r.stem: r for r in rows}
    assert len(rows) == len(by_stem) == 2  # one row per full figure
    assert by_stem["fig1"].preview_id == 3  # _preview beats _thumb and plain
    assert by_stem["fig2"].preview_id == 7  # path order breaks remaining ties


def test_minhash_signature_empty_doc(spark):
    """An empty shingle set must produce a sentinel-valued signature, not
    NULL slots that silently drop the document from band keys and
    element-wise signature comparisons."""
    df = spark.createDataFrame(
        [(1, [11, 22, 33]), (2, [])],
        "doc_id int, shingles array<bigint>",
    )
    out = df.select(
        "doc_id", hashing.minhash_signature(F.col("shingles"), n_perm=8).alias("sig")
    ).collect()
    sigs = {r.doc_id: r.sig for r in out}
    assert all(v is not None for v in sigs[1])
    assert all(v is not None for v in sigs[2])  # sentinel, never NULL
    # two empty docs collide (same sentinel signature) rather than vanish
    assert sigs[2] == [hashing._MERSENNE31] * 8


def _load_bench():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_store_leg_divergence_flag():
    """bench.py's in-artifact sanity flag (VERDICT r4 item 8): the cuckoo
    leg's fastest and slowest clean reps run the same kernel on the same
    input, so a >2x throughput spread marks a contaminated leg."""
    bench = _load_bench()

    ok = bench.store_leg_divergence(3_180_000, 2_590_000)
    assert ok == {"ratio": 1.23, "suspect": False}
    # run F's outlier pattern: a 0.89M rep next to 3.2M reps
    bad = bench.store_leg_divergence(3_200_000, 890_000)
    assert bad["suspect"] and bad["ratio"] > 3
    assert bench.store_leg_divergence(3_000_000, 1_400_000)["suspect"]
    # symmetric + zero-safe
    assert bench.store_leg_divergence(0, 1000)["suspect"]
    assert (
        bench.store_leg_divergence(890_000, 3_200_000)["ratio"] == bad["ratio"]
    )


def test_bench_frontier_legs_smoke(spark, monkeypatch):
    """bench.py's frontier legs run end to end on a small input and emit
    every key the artifact and its compact stdout line carry, so a dropped
    leg or a broken import fails here instead of in the next bench run.
    The steal counter is stubbed so no rep is rejected as dirty."""
    bench = _load_bench()
    monkeypatch.setattr(bench, "_steal_ticks", lambda: 0)
    cpus = spark.sparkContext.defaultParallelism

    small = bench.bench_frontier(spark, 20_000, cpus)
    assert small["seen_size"] == 6_667
    assert {
        "sec", "urls_per_sec", "broadcast_path_urls_per_sec",
        "cuckoo_path_urls_per_sec",
    } <= small.keys()
    assert small["clean_reps"] == {"broadcast": 2, "cuckoo": 3}

    large = bench.bench_frontier_large_seen(spark, 20_000, cpus)
    assert large["seen_size"] == 40_000
    assert large["cuckoo_urls_per_sec"] > 0
    assert large["shuffle_antijoin_urls_per_sec"] > 0
    assert set(large["store_leg_divergence"]) == {"ratio", "suspect"}
    assert large["clean_reps"] == {"cuckoo": 3, "shuffle_antijoin": 2}


def test_bench_scaling_pair_smoke():
    """bench.py's N -> 4N scaling pair runs both leg processes through the
    @READY/@REP/@CALIB protocol on a small input and returns every key
    the artifact's scaling block reads."""
    bench = _load_bench()
    p = bench.run_pair((1, None), (2, None), n_urls=20_000, want_clean=1,
                       max_rounds=2, sleep_s=0)
    for leg in (p["small"], p["large"]):
        assert {"rate", "rate_median", "calib_loops_per_sec", "seen"} <= leg.keys()
        assert leg["seen"] == 40_000
    assert p["small"]["master"] == "local[1]" and p["large"]["master"] == "local[2]"
    assert p["eff_paired_median"] > 0


def test_bench_stdout_line_always_fits():
    """The bench's stdout line is cut in stages; an artifact still too
    long after every staged cut prints only the headline metric and the
    pointer to the full artifact, never a line longer than the limit."""
    import json

    bench = _load_bench()
    head = {"metric": "headline_suite_plus_frontier_kernel", "value": 10.5, "unit": "sec"}
    small = {**head, "host_calibration": {"single_core_loop_per_sec": 1}}
    assert json.loads(bench.slim_stdout_line(small)) == small

    jaccard = {
        f"case{i}": {"picked": "prefix", "winner": "prefix", "picked_winner": True,
                     "sec_prefix": 1.25, "sec_brute": 2.5}
        for i in range(20)
    }
    staged = {**head, "jaccard_dispatch": jaccard, "full_detail": "BENCH_FULL.json"}
    out = json.loads(bench.slim_stdout_line(staged))
    assert out["jaccard_dispatch"]["case0"] == {"picked": "prefix", "picked_winner": True}

    oversized = {
        **head,
        "queries": {f"q{i}": 1.0 for i in range(400)},
        "jaccard_dispatch": jaccard,
        "host_calibration": {"single_core_loop_per_sec": 1, "bench_wall_sec": 2},
        "full_detail": "BENCH_FULL.json",
    }
    line = bench.slim_stdout_line(oversized)
    assert len(line) <= bench.STDOUT_LINE_MAX
    assert json.loads(line) == {**head, "full_detail": "BENCH_FULL.json"}
    assert "queries" in oversized  # the caller's dict is not cut
