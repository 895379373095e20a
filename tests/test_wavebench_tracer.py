"""The crawl-wave benchmark's tracer (``wavebench/spans.py``) patches the
engine's layer entry points by name. Installing it here turns a renamed
entry point into a tier-1 failure instead of a failure of every traced
benchmark run."""

import os
import sys

from literature_crawler_spark.operators import cuckoo as cuckoo_mod
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.plans import crawl as crawl_mod
from literature_crawler_spark.plans.state import SnapshotStore

WAVEBENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "wavebench")

PATCHED = [
    (pol, "schedule_wave"),
    (fr, "canonicalize_candidates"),
    (fr, "apply_robots"),
    (fr, "first_seen_dedup"),
    (fr, "dedup_against_seen"),
    (crawl_mod, "assign_global_seq"),
    (SnapshotStore, "commit"),
    (SnapshotStore, "read"),
    (SnapshotStore, "compact"),
    (SnapshotStore, "expire_snapshots"),
    (cuckoo_mod.BucketedCuckooStore, "merge"),
    (cuckoo_mod.BucketedCuckooStore, "delete"),
    (crawl_mod.CrawlEngine, "_reconcile_crash_window"),
]


def test_tracer_patches_and_restores_entry_points(spark):
    sys.path.insert(0, WAVEBENCH)
    try:
        import spans
    finally:
        sys.path.remove(WAVEBENCH)
    before = [getattr(owner, attr) for owner, attr in PATCHED]
    with spans.install(spans.Tracer(spark.sparkContext)):
        during = [getattr(owner, attr) for owner, attr in PATCHED]
    after = [getattr(owner, attr) for owner, attr in PATCHED]
    assert all(d is not b for d, b in zip(during, before))
    assert all(a is b for a, b in zip(after, before))
