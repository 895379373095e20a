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


def test_recrawl_resume_tiny_run():
    """The benchmark program end to end on its tiny corpus: kill a wave,
    restart, heal, retract, each checked against the oracle. The killed
    wave's audit rows are a documented loss, so one failed wave is
    allowed."""
    import json
    import subprocess

    cmd = [sys.executable, os.path.join(WAVEBENCH, "run.py"), "--workload", "recrawl_resume",
           "--tiny", "--seconds", "1", "--seed", "7"]
    p = subprocess.run(cmd, cwd=os.path.dirname(WAVEBENCH), capture_output=True, text=True,
                       timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert last["correct"], p.stdout
    assert last["failed"] <= 1, p.stdout
