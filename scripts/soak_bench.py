"""10^8-order soak leg — scale evidence beyond the per-round bench sizes.

The driver bench (`bench.py`) measures the frontier kernel at 8M candidate
URLs against a 16M-key seen set. The north rule targets a 10^10-URL
frontier; this script runs the SAME shipped kernel (canonicalize -> fused
store probe -> exact anti-join -> politeness rank) one order of magnitude
up — 64M candidates against a 128M-key maintained seen store — to show the
per-bucket store design holds as state grows 8x:

* per-bucket cuckoo files grow (8 MB per bucket at 2M keys/bucket) but
  stay executor-cached; the DRIVER footprint is flat (per-bucket count
  dicts only);
* probe cost per URL is O(1) regardless of seen size, so the 64M-candidate
  rate should track the 8M-candidate rate measured against the same store;
* the candidate-side legs at 8M vs 64M isolate candidate-volume scaling
  from seen-size scaling (the 16M-seen numbers in BENCH_FULL.json cover
  the smaller-state point).

Every rep is steal-gated exactly like bench.py's frontier legs. One-shot
evidence run (~10-15 min at local[32]); results land in BENCH.md, not the
driver artifact.

Usage: python scripts/soak_bench.py
Knobs: SPARK_GRAFT_SOAK_URLS (default 64_000_000), SPARK_GRAFT_CPUS.
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

from bench import (  # noqa: E402
    _bench_urls,
    _calibrate_cpu,
    _steal_ticks,
    _timed_kernel,
)
from literature_crawler_spark.operators import cuckoo as cuckoo_mod  # noqa: E402
from literature_crawler_spark.operators import frontier as fr  # noqa: E402
from literature_crawler_spark.session import get_spark  # noqa: E402


def _store_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for f in os.listdir(root)
        if f.startswith("b")
    )


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    n_urls = int(float(os.environ.get("SPARK_GRAFT_SOAK_URLS", 64_000_000)))
    n_hosts = 1000
    spark = get_spark("soak", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    calib = _calibrate_cpu()
    steal0, wall0 = _steal_ticks(), time.time()

    urls = _bench_urls(n_hosts)
    # seen = 2x candidates (every candidate keyspace point plus as much
    # again), all flowing through the shipped canonicalize kernel
    seen = (
        fr.canonicalize_candidates(urls(spark.range(0, 2 * n_urls)), output_cols=[])
        .select("url_hash")
        .persist()
    )
    t0 = time.time()
    seen_n = seen.count()
    t_seen_build = time.time() - t0

    out: dict = {
        "metric": "soak_frontier_kernel",
        "n_urls": n_urls,
        "seen_size": seen_n,
        "cpus": cpus,
        "seen_build_sec": round(t_seen_build, 1),
    }

    cuckoo_dir = tempfile.mkdtemp(prefix="soak_cuckoo_")
    cstore = cuckoo_mod.BucketedCuckooStore.create(
        cuckoo_dir, expected_items=seen_n, n_buckets=64
    )
    t0 = time.time()
    cstore.merge(seen)
    out["cuckoo_merge_sec"] = round(time.time() - t0, 1)
    out["cuckoo_store_mb"] = round(_store_bytes(cuckoo_dir) / 2**20, 1)

    def repin():
        spark.catalog.clearCache()
        seen.persist().count()

    def timed(n: int, store=None, shuffle=False):
        best, frac, clean, attempts, _ = _timed_kernel(
            spark, urls, seen, seen_n, n, cpus, store, shuffle
        )
        return {
            "sec": round(best, 3),
            "urls_per_sec": round(n / best),
            "steal_frac": round(frac, 3),
            "clean_reps": clean,
            "attempts": attempts,
        }

    # candidate-volume scaling against the SAME 128M-key store
    out["cuckoo_small_n"] = dict(timed(n_urls // 8, cstore), n_urls=n_urls // 8)
    repin()
    out["cuckoo_full_n"] = dict(timed(n_urls, cstore), n_urls=n_urls)
    repin()
    out["shuffle_antijoin_full_n"] = dict(timed(n_urls, shuffle=True), n_urls=n_urls)

    seen.unpersist()
    spark.catalog.clearCache()
    shutil.rmtree(cuckoo_dir, ignore_errors=True)

    wall = time.time() - wall0
    steal_sec = (_steal_ticks() - steal0) / 100.0
    out["host_calibration"] = {
        "single_core_loop_per_sec": calib,
        "steal_cpu_sec_during_run": round(steal_sec, 1),
        "steal_pct_of_capacity": round(
            100.0 * steal_sec / (wall * (os.cpu_count() or cpus)), 2
        ),
        "wall_sec": round(wall, 1),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
