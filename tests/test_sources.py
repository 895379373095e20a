"""RIS parser + synthetic corpus determinism + robots parsing and matching."""

import os

from literature_crawler_spark.sources import ris, synthetic as syn

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "sample.ris")


def test_ris_parse(spark):
    recs = ris.read_ris(spark, FIXTURE).orderBy("record_id").collect()
    assert len(recs) == 3
    r0 = recs[0]
    assert r0.type == "JOUR"
    assert r0.title == "A reproducible protocol for widget assembly"
    assert r0.doi == "10.1002/cpz1.1001"
    assert r0.url == "https://example.org/articles/widget-assembly"
    # document order (reference parse_entry appends as it scans — first-
    # author order is semantically load-bearing), NOT alphabetical
    assert r0.authors == ["Smith, Jane", "Doe, John"]
    assert r0.keywords == ["widgets", "assembly"]
    assert recs[2].title == "Chapter on staining methods"  # T1 fallback
    assert recs[1].keywords == ["pipelines"]


def test_synthetic_pages_deterministic(spark):
    a = syn.generate_pages(spark, 50, 5, with_images=True).orderBy("image_id").collect()
    b = syn.generate_pages(spark, 50, 5, with_images=True).orderBy("image_id").collect()
    assert [(r.url, r.caption, r.phash, bytes(r.bytes)) for r in a] == [
        (r.url, r.caption, r.phash, bytes(r.bytes)) for r in b
    ]


def test_python_corpus_mirrors_spark(spark):
    pages = syn.generate_pages(spark, 80, 7, with_images=False).collect()
    mirror = syn.python_corpus(80, 7)
    spark_side = {r.url: (r.host, list(r.links)) for r in pages}
    py_side = {v["url"]: (v["host"], v["links"]) for v in mirror.values()}
    assert spark_side == py_side


ROBOTS_BODY = """# comment line
User-agent: *
Disallow: /private/
Disallow: /tmp/   # trailing comment
Allow: /private/ok
Crawl-delay: 2

User-agent: badbot
Disallow: /

User-agent: mybot
User-agent: otherbot
Disallow: /mybot-only/
"""


def test_parse_robots_txt_groups(spark):
    from literature_crawler_spark.sources import robots as rb

    df = spark.createDataFrame(
        [("h1.org", ROBOTS_BODY), ("h2.org", "User-agent: *\nDisallow:\n")],
        "host string, body string",
    )
    star = {(r.host, r.pattern, r.allow) for r in rb.parse_robots_txt(df).collect()}
    assert star == {
        ("h1.org", "/private/", False),
        ("h1.org", "/tmp/", False),
        ("h1.org", "/private/ok", True),
    }  # badbot/mybot groups excluded; blank Disallow on h2 -> no rules
    # RFC 9309 §2.2.1: a specific-agent group OVERRIDES the '*' group —
    # mybot gets ONLY its own group's rules, not the merged '*' rules.
    mybot = {(r.host, r.pattern, r.allow) for r in rb.parse_robots_txt(df, agent="MyBot").collect()}
    assert mybot == {("h1.org", "/mybot-only/", False)}
    badbot = {(r.host, r.pattern, r.allow) for r in rb.parse_robots_txt(df, agent="badbot").collect()}
    assert badbot == {("h1.org", "/", False)}

    delays = {(r.host, r.min_interval_ms) for r in rb.crawl_delay_of(df).collect()}
    assert delays == {("h1.org", 2000)}
    # badbot's groups carry no Crawl-delay, and the '*' group's delay must
    # not leak into the specific-agent selection
    assert rb.crawl_delay_of(df, agent="badbot").count() == 0


def test_parse_robots_feeds_apply_robots(spark):
    from literature_crawler_spark.operators import frontier as fr
    from literature_crawler_spark.sources import robots as rb

    bodies = spark.createDataFrame(
        [("h1.example.org", "User-agent: *\nDisallow: /private/\n")],
        "host string, body string",
    )
    rules = rb.parse_robots_txt(bodies)
    cand = fr.canonicalize_candidates(
        spark.createDataFrame(
            [("https://h1.example.org/private/x",),
             ("https://h1.example.org/pub/y",),
             ("https://h2.example.org/private/z",)],
            ["url"],
        )
    )
    kept = {r.canon_url for r in fr.apply_robots(cand, rules).collect()}
    assert kept == {
        "https://h1.example.org/pub/y",
        "https://h2.example.org/private/z",  # rule is host-scoped
    }


def test_apply_robots_wildcards_and_precedence(spark):
    """RFC 9309 §2.2.2-2.2.3: '*'/'$' wildcards, longest-match precedence,
    Allow wins ties (the round-1 substring matcher missed all of these)."""
    from literature_crawler_spark.operators import frontier as fr

    cand = fr.canonicalize_candidates(
        spark.createDataFrame(
            [("https://h1.org/search?s=1",),       # canon strips query
             ("https://h1.org/x/download/file.pdf",),
             ("https://h1.org/x/download/file.pdfx",),  # $ anchor must NOT match
             ("https://h1.org/private/data",),
             ("https://h1.org/private/ok/data",),  # longer Allow overrides
             ("https://h1.org/fetch.php",),
             ("https://h1.org/other",)],
            ["url"],
        )
    )
    robots = spark.createDataFrame(
        [("h1.org", "/*/download/*.pdf$", False),
         ("h1.org", "/private/", False),
         ("h1.org", "/private/ok/", True),
         ("h1.org", "/fetch*.php", False),
         ("h1.org", "/sea", False),
         ("h1.org", "/search", True)],  # tie-break: equal-length prefix later
        "host string, pattern string, allow boolean",
    )
    kept = {r.canon_url for r in fr.apply_robots(cand, robots).collect()}
    assert kept == {
        "https://h1.org/search",             # Allow '/search' (7) > Disallow '/sea' (4)
        "https://h1.org/x/download/file.pdfx",
        "https://h1.org/private/ok/data",
        "https://h1.org/other",
    }
    # mark_robots is the marking twin: every row survives, flag == kept
    marked = fr.mark_robots(cand, robots, "ok").collect()
    assert len(marked) == cand.count()
    assert {r.canon_url for r in marked if r.ok} == kept
    # both accept the rules prepared once (the crawl engine's form)
    rules = fr.prepare_robots(robots)
    assert {r.canon_url for r in fr.apply_robots(cand, rules).collect()} == kept
    marked = fr.mark_robots(cand, rules, "ok").collect()
    assert {r.canon_url for r in marked if r.ok} == kept


def test_apply_robots_scale_plan(spark):
    """10^5 host-specific rules must reach candidates through a broadcast
    hash EQUI-join on host — never a nested-loop over the full rule table
    (the only NLJ allowed is the 1-row global-rules cross join)."""
    from literature_crawler_spark.operators import frontier as fr

    rules = spark.range(0, 100_000).selectExpr(
        "concat('h', cast(id % 20000 as string), '.example.org') as host",
        "concat('/blocked', cast(id as string), '/') as pattern",
        "false as allow",
    )
    cand = fr.canonicalize_candidates(
        spark.range(0, 1000).selectExpr(
            "concat('https://h', cast(id % 20000 as string), '.example.org/page/', cast(id as string)) as url"
        )
    )
    out = fr.apply_robots(cand, rules.unionByName(
        spark.createDataFrame([("*", "/ads/", False)], "host string, pattern string, allow boolean")
    ))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # global side is a single collect_list row; the host side must be the BHJ
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            pass  # allowed only for the 1-row global array side
    assert out.count() == 1000  # no candidate hits a /blockedN/ prefix


def test_stale_robots_ttl(spark):
    from literature_crawler_spark.sources import robots as rb

    cache = spark.createDataFrame(
        [("h1", "2024-01-02 00:00:00"), ("h2", "2024-01-01 00:00:00"), ("h3", None)],
        "host string, fetched_at string",
    ).selectExpr("host", "CAST(fetched_at AS TIMESTAMP) AS fetched_at")
    stale = {r.host for r in rb.stale_robots(cache, "2024-01-02 12:00:00", ttl_hours=24).collect()}
    assert stale == {"h2", "h3"}


def test_refresh_robots_cache_lifecycle(spark, tmp_path):
    """The robots-cache lifecycle: first call fetches every requested
    host (absence cached as 'missing'), a within-TTL call fetches
    NOTHING, a past-TTL call refreshes and picks up changed bodies; the
    returned rules feed apply_robots and the delays feed politeness."""
    from literature_crawler_spark.plans.state import SnapshotStore
    from literature_crawler_spark.sources import robots as rb

    bodies = {
        "h1.org": "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n",
        "h2.org": "",  # no robots.txt published
    }
    # the fetcher runs in executor python workers, so driver-side lists
    # never see its calls — record them as files (shared FS in local mode)
    calldir = tmp_path / "calls"
    calldir.mkdir()

    def _calls():
        import os

        return sorted(os.listdir(calldir))

    def fetcher(host):
        (calldir / host).touch()
        return bodies.get(host, "")

    store = SnapshotStore(str(tmp_path / "rc"))
    hosts = spark.createDataFrame(
        [("h1.org",), ("h2.org",), ("h1.org",)], "host string"
    )
    rules, delays = rb.refresh_robots_cache(
        spark, store, hosts, fetcher, "2024-01-01 00:00:00"
    )
    assert _calls() == ["h1.org", "h2.org"]
    assert {(r.host, r.pattern, r.allow) for r in rules.collect()} == {
        ("h1.org", "/private/", False)
    }
    assert {(r.host, r.min_interval_ms) for r in delays.collect()} == {
        ("h1.org", 2000)
    }

    # within TTL: nothing refetched, even the 'missing' host
    import shutil

    shutil.rmtree(calldir)
    calldir.mkdir()
    rules, _ = rb.refresh_robots_cache(
        spark, store, hosts, fetcher, "2024-01-01 12:00:00"
    )
    assert _calls() == []
    assert rules.count() == 1

    # past TTL: refreshed; a changed body wins (merge last-writer-wins).
    # bodies is captured by value in the executor closure, so build a NEW
    # fetcher for the changed web state
    shutil.rmtree(calldir)
    calldir.mkdir()
    bodies2 = dict(bodies, **{"h2.org": "User-agent: *\nDisallow: /new/\n"})

    def fetcher2(host):
        (calldir / host).touch()
        return bodies2.get(host, "")

    rules, _ = rb.refresh_robots_cache(
        spark, store, hosts, fetcher2, "2024-01-02 06:00:00"
    )
    assert _calls() == ["h1.org", "h2.org"]
    assert {(r.host, r.pattern) for r in rules.collect()} == {
        ("h1.org", "/private/"),
        ("h2.org", "/new/"),
    }


def test_refresh_robots_cache_transient_error(spark, tmp_path):
    """A host whose fetch exhausts the retry ladder is cached as 'error'
    (deny-all rule per RFC 9309 §2.3.1.4, no wave-by-wave refetch storm),
    re-fetched on the shorter error TTL, and recovers on refresh."""
    from literature_crawler_spark.plans.state import SnapshotStore
    from literature_crawler_spark.sources import robots as rb

    calldir = tmp_path / "calls2"
    calldir.mkdir()

    def _n_attempts():
        import os

        return sum(
            int(f.split("_")[-1]) for f in os.listdir(calldir)
        ) if list(calldir.iterdir()) else 0

    def flaky(host):
        import os

        prior = [f for f in os.listdir(calldir) if f.startswith(host)]
        for f in prior:
            os.unlink(calldir / f)
        n = (int(prior[0].split("_")[-1]) if prior else 0) + 1
        (calldir / f"{host}_{n}").touch()
        return None  # transient every time -> ladder exhausts

    store = SnapshotStore(str(tmp_path / "rc2"))
    hosts = spark.createDataFrame([("h9.org",)], "host string")
    rules, delays = rb.refresh_robots_cache(
        spark, store, hosts, flaky, "2024-01-01 00:00:00", retries=3
    )
    assert _n_attempts() == 3
    # RFC 9309 §2.3.1.4: unreachable robots.txt => assume complete
    # disallow, NOT unrestricted crawl
    assert {(r.host, r.pattern, r.allow) for r in rules.collect()} == {
        ("h9.org", "/", False)
    }
    assert delays.count() == 0

    # within the (shorter) error TTL: the error is cached, not retried
    import shutil

    shutil.rmtree(calldir)
    calldir.mkdir()
    rules, _ = rb.refresh_robots_cache(
        spark, store, hosts, flaky, "2024-01-01 01:00:00"
    )
    assert _n_attempts() == 0
    assert {(r.host, r.pattern, r.allow) for r in rules.collect()} == {
        ("h9.org", "/", False)
    }

    # past the error TTL (default ttl_hours//4 = 6h) but well inside the
    # 24h content TTL: the error entry IS re-fetched
    shutil.rmtree(calldir)
    calldir.mkdir()

    def ok(host):
        return "User-agent: *\nDisallow: /x/\n"

    rules, _ = rb.refresh_robots_cache(
        spark, store, hosts, ok, "2024-01-01 07:00:00"
    )
    assert {(r.host, r.pattern) for r in rules.collect()} == {("h9.org", "/x/")}
    # and the recovered 'ok' entry carries no deny-all residue
    assert {r.allow for r in rules.collect()} == {False}  # /x/ is a Disallow


def test_refresh_robots_cache_empty_hosts_no_table(spark, tmp_path):
    """ADVICE r5 regression: an empty host list before the cache table's
    first commit must return empty rules/delays, not AttributeError on a
    None cache read."""
    from literature_crawler_spark.plans.state import SnapshotStore
    from literature_crawler_spark.sources import robots as rb

    store = SnapshotStore(str(tmp_path / "rc3"))
    hosts = spark.createDataFrame([], "host string")
    rules, delays = rb.refresh_robots_cache(
        spark, store, hosts, lambda h: "", "2024-01-01 00:00:00"
    )
    assert rules.count() == 0 and delays.count() == 0
    assert rules.columns == ["host", "pattern", "allow"]
    assert delays.columns == ["host", "min_interval_ms"]
