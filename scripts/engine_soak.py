"""Engine-level soak: the FULL wave loop (CrawlEngine) at millions of
pages — system evidence above the kernel benches.

`bench.py` measures the frontier kernel; the e2e tests run the engine at
~300 pages. This script runs the real engine — politeness scheduling,
fetch join, link explosion, robots, fused dedup, dense numbering, MERGE
snapshot commits, lineage — against a multi-million-page synthetic corpus
for several waves, reporting per-wave wall time and scheduled+new URL
throughput. Along the way it exercises the 'auto' membership upgrade in
anger: committed seen crosses BROADCAST_SEEN_MAX mid-run, so the engine
self-builds a maintained cuckoo store from committed state and later
waves run the fused-probe path — the exact lifecycle a 10^10 crawl's
first hours follow.

Invariant checks at the end (cheap aggregates, not a parity rerun):
frontier row count == seen row count (every admitted URL has exactly one
frontier row), crawl-order seqs are unique, and no pending row is missing
from seen.

Usage: python scripts/engine_soak.py
Knobs: SPARK_GRAFT_ENGINE_PAGES (default 4_000_000), SPARK_GRAFT_CPUS,
SPARK_GRAFT_ENGINE_WAVES (default 4), SPARK_GRAFT_ENGINE_FETCH=join|udf
(join = hash-join vs the pages table, the table-resident case; udf = the
Arrow fetch_extract deploy path over salt-spread partitions, retry
ladder per URL inside the batch).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import _steal_ticks, _calibrate_cpu  # noqa: E402
from literature_crawler_spark.plans.crawl import CrawlEngine  # noqa: E402
from literature_crawler_spark.plans.state import SnapshotStore  # noqa: E402
from literature_crawler_spark.session import get_spark  # noqa: E402
from literature_crawler_spark.sources import synthetic as syn  # noqa: E402


def _seeds(spark, n_seeds: int, n_pages: int, n_hosts: int):
    """Distributed twin of synthetic.generate_seeds (that one builds a
    driver-side list; at 10^5+ seeds the list belongs on executors)."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for s in pdf["id"]:
                s = int(s)
                url = syn._url_of_index((s * 137) % n_pages, n_hosts)
                if s % 7 == 3:
                    url += "?ref=seedlist"
                rows.append((url, 0, s))
            yield pd.DataFrame(rows, columns=["url", "priority", "seq"])

    return spark.range(n_seeds).mapInPandas(gen, "url string, priority int, seq long")


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_pages = int(float(os.environ.get("SPARK_GRAFT_ENGINE_PAGES", 4_000_000)))
    n_waves = int(os.environ.get("SPARK_GRAFT_ENGINE_WAVES", 4))
    n_hosts = 2000
    n_seeds = max(n_pages // 20, 100)
    budget = 600
    spark = get_spark("engine_soak", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    calib = _calibrate_cpu()
    steal0, wall0 = _steal_ticks(), time.time()

    pages = syn.generate_pages(spark, n_pages, n_hosts, with_images=False).persist()
    t0 = time.time()
    n_corpus = pages.count()
    corpus_sec = time.time() - t0

    fetch_mode = os.environ.get("SPARK_GRAFT_ENGINE_FETCH", "join")
    fetcher = None
    if fetch_mode == "udf":
        from literature_crawler_spark.operators import fetch as fetch_mod

        fetcher = fetch_mod.make_synthetic_fetcher(n_pages, n_hosts)
    root = tempfile.mkdtemp(prefix="engine_soak_")
    store = SnapshotStore(root)
    eng = CrawlEngine(
        spark, store, pages,
        robots=syn.generate_robots(spark),
        politeness=None,
        default_budget=budget,
        use_bloom="auto",
        fetcher=fetcher,
    )
    t0 = time.time()
    n_seeded = eng.bootstrap(_seeds(spark, n_seeds, n_pages, n_hosts))
    bootstrap_sec = time.time() - t0

    waves = []
    for w in range(1, n_waves + 1):
        s0 = _steal_ticks()
        t0 = time.time()
        m = eng.run_wave(w)
        dt = time.time() - t0
        steal_frac = (_steal_ticks() - s0) / 100.0 / (dt * cpus)
        waves.append(
            {
                **m,
                "sec": round(dt, 1),
                "urls_per_sec": round((m["scheduled"] + m["new_urls"]) / dt),
                "steal_frac": round(steal_frac, 3),
                "store": type(eng._seen_store).__name__ if eng._seen_store else "broadcast",
            }
        )
        if m.get("done"):
            break

    # ---- invariants (aggregate checks over committed state) ----
    seen = eng.seen()
    frontier = eng.frontier()
    order = eng.crawl_order()
    n_seen = seen.count()
    n_frontier = frontier.count()
    n_order = order.count()
    n_order_distinct_seq = order.select("seq").distinct().count()
    n_pending_not_in_seen = (
        frontier.filter(F.col("status") == "pending")
        .join(seen.select("url_hash"), "url_hash", "left_anti")
        .count()
    )
    invariants = {
        "frontier_rows_eq_seen_rows": n_frontier == n_seen,
        "order_seqs_unique": n_order == n_order_distinct_seq,
        "pending_subset_of_seen": n_pending_not_in_seen == 0,
        "n_seen": n_seen,
        "n_order": n_order,
    }
    ok = all(v is not False for v in invariants.values())

    pages.unpersist()
    wall = time.time() - wall0
    steal_sec = (_steal_ticks() - steal0) / 100.0
    out = {
        "metric": "engine_wave_loop_soak",
        "fetch_path": fetch_mode,
        "n_pages": n_corpus,
        "n_hosts": n_hosts,
        "n_seeds": n_seeded,
        "budget_per_host": budget,
        "cpus": cpus,
        "corpus_build_sec": round(corpus_sec, 1),
        "bootstrap_sec": round(bootstrap_sec, 1),
        "waves": waves,
        "invariants": invariants,
        "invariants_ok": ok,
        "host_calibration": {
            "single_core_loop_per_sec": calib,
            "steal_cpu_sec_during_run": round(steal_sec, 1),
            "steal_pct_of_capacity": round(
                100.0 * steal_sec / (wall * (os.cpu_count() or cpus)), 2
            ),
            "wall_sec": round(wall, 1),
        },
    }
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    print(json.dumps(out))
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
