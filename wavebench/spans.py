"""Per-layer spans for the traced run, recorded from outside the program.

``install`` wraps the public entry points ``run_wave`` calls. A layer
wrapper first materialises the DataFrames it receives, as a span of its
own, then runs the layer and materialises what it returns inside the
layer's span, so each layer's compute is charged to it.

Materialising is an eager ``localCheckpoint`` plus a count, not persist +
count: most of a wave's wall time is driver-side planning of the wave's
lineage, and every persisted DataFrame is matched against each later plan,
so with a dozen caches per wave the later layers' planning time grew
several-fold and the traced waves ran four times slower than untraced ones.
A checkpoint cuts the lineage instead, so each layer's span holds the
planning and execution of that layer alone.

Materialising the input of ``canonicalize_candidates`` inside a wave runs
fetch + extract, so that span is the fetch layer's. An input the tracer has
already materialised is not counted again.

Store wrappers (snapshot commits, cuckoo merge/delete) do not materialise
their input: it is a projection or union of materialised layer outputs, and
counting it first would plan it twice. Spans opened inside an absorbing span
(compaction, the resume heal) are folded into it. Every cache a phase
creates is dropped when the phase ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from literature_crawler_spark.operators import cuckoo as cuckoo_mod
from literature_crawler_spark.operators import fetch as fetch_mod
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.plans import crawl as crawl_mod
from literature_crawler_spark.plans.state import SnapshotStore

ABSORBING = ("state.compact", "crawl.reconcile")


class Tracer:
    """Span recorder; ``Phases`` calls enter/leave around each phase."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.phase: str | None = None
        self.group: str | None = None
        self.stack: list[dict] = []
        # materialised DataFrames of the current phase; holding them keeps
        # their id() unique while `rows` is keyed by it
        self.cached: list[DataFrame] = []
        self.rows: dict[int, int] = {}
        self.mat_jobs = 0

    def enter(self, name: str, group: str) -> None:
        # set-up and checks run untraced; spans cover the crawl itself
        self.phase = None if name in ("setup", "check") else name
        self.group = group

    def leave(self) -> None:
        self.cached.clear()
        self.rows.clear()
        self.phase = None

    def active(self) -> bool:
        return self.phase is not None and not (
            self.stack and self.stack[-1]["name"] in ABSORBING
        )

    def _jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def own(self, action):
        """Run a tracer action; its jobs are not charged to the program."""
        j0 = self._jobs()
        out = action()
        self.mat_jobs += self._jobs() - j0
        return out

    def materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = self.own(lambda: df.localCheckpoint(eager=True))
        self.cached.append(df)
        self.rows[id(df)] = n = self.own(df.count)
        return df, n

    @contextlib.contextmanager
    def span(self, name: str):
        s = {"name": name, "phase": self.phase, "start": time.perf_counter(),
             "jobs": 0, "counts": {}}
        j0, m0 = self._jobs(), self.mat_jobs
        self.stack.append(s)
        try:
            yield s
        finally:
            self.stack.pop()
            s["end"] = time.perf_counter()
            # program jobs only: the wrapper's own counts are excluded
            s["jobs"] = self._jobs() - j0 - (self.mat_jobs - m0)
            self.spans.append(s)


def _wrap_layer(tracer: Tracer, fn, name: str, df_args: tuple[int, ...]):
    """Wrap a function whose positional args at ``df_args`` are DataFrames."""

    def wrapper(*args, **kwargs):
        if not tracer.active():
            return fn(*args, **kwargs)
        args = list(args)
        in_wave = tracer.phase.startswith("wave")
        in_name = "fetch.extract" if name == "frontier.canonicalize" and in_wave else "trace.input"
        counts = {}
        with tracer.span(in_name):
            for i in df_args:
                if i < len(args) and isinstance(args[i], DataFrame):
                    n = tracer.rows.get(id(args[i]))
                    if n is None:
                        args[i], n = tracer.materialize(args[i])
                    counts.setdefault("rows_in", n)
                    if "_maybe_seen" in args[i].columns:
                        counts["maybe_seen"] = tracer.own(
                            args[i].filter(F.col("_maybe_seen")).count
                        )
        with tracer.span(name) as s:
            s["counts"].update(counts)
            out = fn(*args, **kwargs)
            df = out[0] if isinstance(out, tuple) else out
            if isinstance(df, DataFrame):
                df, s["counts"]["rows_out"] = tracer.materialize(df)
                if "attempts" in df.columns:  # fetch_extract's retry ladder
                    s["counts"]["attempts"] = tracer.own(
                        lambda: df.agg(F.sum("attempts")).collect()[0][0]
                    )
                out = (df, *out[1:]) if isinstance(out, tuple) else df
        return out

    return wrapper


def _wrap_method(tracer: Tracer, fn, name_of, materialize_out: bool):
    """Wrap a store method; ``name_of(args, kwargs)`` names the span."""

    def wrapper(self, *args, **kwargs):
        if not tracer.active():
            return fn(self, *args, **kwargs)
        name = name_of(args, kwargs)
        with tracer.span(name) as s:
            out = fn(self, *args, **kwargs)
            if materialize_out and isinstance(out, DataFrame):
                out, s["counts"]["rows_out"] = tracer.materialize(out)
            elif name.startswith("state.commit."):
                s["counts"]["files"], s["counts"]["bytes"] = _snapshot_files(
                    self, _table_arg(args, kwargs), out
                )
            elif name.startswith("cuckoo."):  # {bucket: keys merged / removed}
                s["counts"]["keys"] = sum(out.values())
        return out

    return wrapper


def _snapshot_files(store: SnapshotStore, table: str, sid: int) -> tuple[int, int]:
    """Files and bytes one commit wrote: its data dir plus its manifest."""
    files = [store._manifest_path(table, sid)]
    for d, _, names in os.walk(store._sdir(table, sid)):
        files += [os.path.join(d, n) for n in names]
    return len(files), sum(os.path.getsize(f) for f in files)


def _table_arg(args, kwargs) -> str:
    return args[0] if args else kwargs["table"]


@contextlib.contextmanager
def install(tracer: Tracer):
    """Patch the layer entry points for the duration of the block."""
    patches = [
        (pol, "schedule_wave", _wrap_layer(tracer, pol.schedule_wave, "politeness.schedule", (0,))),
        (fetch_mod, "fetch_extract",
         _wrap_layer(tracer, fetch_mod.fetch_extract, "fetch.fetch_extract", (0,))),
        (fr, "canonicalize_candidates",
         _wrap_layer(tracer, fr.canonicalize_candidates, "frontier.canonicalize", (0,))),
        (fr, "apply_robots", _wrap_layer(tracer, fr.apply_robots, "frontier.robots", (0,))),
        (fr, "first_seen_dedup",
         _wrap_layer(tracer, fr.first_seen_dedup, "frontier.first_seen", (0,))),
        (fr, "dedup_against_seen",
         _wrap_layer(tracer, fr.dedup_against_seen, "frontier.seen_test", (1, 2))),
        (crawl_mod, "assign_global_seq",
         _wrap_layer(tracer, crawl_mod.assign_global_seq, "crawl.seq", (0,))),
        (SnapshotStore, "commit", _wrap_method(
            tracer, SnapshotStore.commit,
            lambda a, k: f"state.commit.{_table_arg(a, k)}", False)),
        (SnapshotStore, "read", _wrap_method(
            tracer, SnapshotStore.read,
            lambda a, k: f"state.read.{a[1] if len(a) > 1 else k['table']}", True)),
        (SnapshotStore, "compact", _wrap_method(
            tracer, SnapshotStore.compact, lambda a, k: "state.compact", False)),
        (SnapshotStore, "expire_snapshots", _wrap_method(
            tracer, SnapshotStore.expire_snapshots, lambda a, k: "state.expire", False)),
        (cuckoo_mod.BucketedCuckooStore, "merge", _wrap_method(
            tracer, cuckoo_mod.BucketedCuckooStore.merge, lambda a, k: "cuckoo.merge", False)),
        (cuckoo_mod.BucketedCuckooStore, "delete", _wrap_method(
            tracer, cuckoo_mod.BucketedCuckooStore.delete, lambda a, k: "cuckoo.delete", False)),
        (crawl_mod.CrawlEngine, "_reconcile_crash_window", _wrap_method(
            tracer, crawl_mod.CrawlEngine._reconcile_crash_window,
            lambda a, k: "crawl.reconcile", False)),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    for owner, attr, new in patches:
        setattr(owner, attr, new)
    try:
        yield tracer
    finally:
        for owner, attr, old in saved:
            setattr(owner, attr, old)


def cuckoo_load_factor(root: str) -> float:
    """Occupied slots / all slots over the store's bucket files (0 if none)."""
    used = total = 0
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.endswith(".cuckoo"):
                arr = np.fromfile(os.path.join(root, name), dtype=np.uint16)
                used += int(np.count_nonzero(arr))
                total += arr.size
    return used / total if total else 0.0


def shuffle_bytes(sc, job_ids: list[int], timeout_s: float = 10.0) -> tuple[int, int]:
    """Shuffle write/read bytes of the given jobs' stages, from the Spark UI
    REST API of this application (UI enabled in the traced run only)."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=5) as r:
            return json.load(r)

    want = set(job_ids)
    deadline = time.monotonic() + timeout_s
    while True:  # the UI listener lags the job end events
        jobs = {j["jobId"]: j for j in get("/jobs") if j["jobId"] in want}
        if (len(jobs) == len(want) and all(j["status"] != "RUNNING" for j in jobs.values())) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stage_ids = {s for j in jobs.values() for s in j["stageIds"]}
    stages = [s for s in get("/stages") if s["stageId"] in stage_ids]
    return (
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
        sum(s.get("shuffleReadBytes", 0) for s in stages),
    )
