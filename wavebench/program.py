"""Workload definitions, seeded inputs and the crawl program one run executes.

A workload is a fixed wave program over a synthetic corpus: bootstrap, a few
waves, an optional crash of one wave right after its frontier commit, a
restart on the same store with a fresh ``CrawlEngine`` (the first resumed
wave), ``retract`` (forget + requeue), and optional waves after it. The loop
is closed: each wave starts only after the previous one has committed.

Every wave up to the retract is compared with the single-threaded oracle;
the state after the retract is outside the oracle's model and is checked
against the engine's invariants instead.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import time

from pyspark.sql import functions as F

from literature_crawler_spark.operators import fetch as fetch_mod
from literature_crawler_spark.oracle import crawl_oracle as co
from literature_crawler_spark.plans.crawl import CrawlEngine
from literature_crawler_spark.plans.state import SnapshotStore
from literature_crawler_spark.sources import synthetic as syn

RETRACT_SHARE = 0.05  # share of crawled URLs forgotten, and again requeued


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pages: int
    n_hosts: int
    n_seeds: int
    budget: int
    fetch: str  # "join": hash-join vs the pages table; "udf": Arrow fetch_extract
    use_bloom: str  # CrawlEngine use_bloom
    waves_before: int  # waves the first engine runs
    kill_wave: bool  # crash the next wave right after its frontier commit
    waves_after_retract: int
    compact_every: int  # chosen so one frontier compaction lands in the run

    @property
    def oracle_waves(self) -> int:
        # waves the oracle models: everything before the retract
        return self.waves_before + int(self.kill_wave) + 1

    def tiny(self) -> "Workload":
        """Self-test size: same wave program, a corpus of a few hundred pages."""
        return dataclasses.replace(self, n_pages=600, n_hosts=12, n_seeds=40, budget=10)


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="small_waves",
            why=(
                "Few URLs per wave, so wave time is the fixed per-wave cost "
                "(Spark jobs, six commits, seq numbering); pages-join fetch, "
                "broadcast seen test, clean restart."
            ),
            n_pages=20_000, n_hosts=50, n_seeds=200, budget=100,
            fetch="join", use_bloom="auto",
            waves_before=2, kill_wave=False, waves_after_retract=0,
            compact_every=2,
        ),
        Workload(
            name="recrawl_resume",
            why=(
                "Maintained cuckoo store with merges, deletes and adoption, a "
                "wave killed after its frontier commit and healed on restart, "
                "retract, and the Arrow fetch UDF on wider waves."
            ),
            n_pages=30_000, n_hosts=300, n_seeds=600, budget=50,
            fetch="udf", use_bloom="cuckoo",
            waves_before=0, kill_wave=True, waves_after_retract=2,
            compact_every=2,
        ),
    ]
}


class InjectedCrash(RuntimeError):
    """Raised by the benchmark to kill a wave after its frontier commit."""


@contextlib.contextmanager
def crash_after_frontier_commit(wave: int):
    """Make ``SnapshotStore.commit`` raise right after wave ``wave``'s
    frontier merge commit returns: the frontier is ahead of seen, and the
    order/outcomes/metrics/lineage commits of that wave never happen."""
    inner = SnapshotStore.commit

    def commit(self, table, df, mode="append", wave=None, meta=None, merge_key=None):
        sid = inner(self, table, df, mode=mode, wave=wave, meta=meta, merge_key=merge_key)
        if table == "frontier" and mode == "merge" and wave == crash_wave:
            raise InjectedCrash(f"killed wave {wave} after its frontier commit")
        return sid

    crash_wave = wave
    SnapshotStore.commit = commit
    try:
        yield
    finally:
        SnapshotStore.commit = inner


# ------------------------------------------------------------------ inputs --
def seed_urls(w: Workload, seed: int) -> list[str]:
    """The seed list for ``seed``: which pages start the crawl. Count and
    noise mix (every 7th a query-string variant, every 13th a duplicate of
    seed 0, as in ``synthetic.generate_seeds``) do not depend on the seed."""
    rng = random.Random(f"{w.name}:{seed}")
    urls: list[str] = []
    for s, i in enumerate(rng.sample(range(w.n_pages), w.n_seeds)):
        url = syn._url_of_index(i, w.n_hosts)
        if s % 7 == 3:
            url += "?ref=seedlist"
        if s % 13 == 5 and urls:
            url = urls[0]
        urls.append(url)
    return urls


def corpus(spark, w: Workload, cache_dir: str) -> tuple[str, float | None]:
    """Pages parquet for the workload, generated once per corpus size and
    reused. Returns (path, generation seconds or None when cached)."""
    path = os.path.join(cache_dir, f"pages-{w.n_pages}-{w.n_hosts}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, None
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    syn.generate_pages(spark, w.n_pages, w.n_hosts, with_images=False).select(
        "url", "host", "links", "caption", "image_id"
    ).write.parquet(tmp)
    gen_s = time.perf_counter() - t0
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, gen_s


def _run_oracle(w: Workload, seeds: list[str], robots: list, budgets: dict) -> dict:
    t0 = time.perf_counter()
    res = co.run_oracle(
        syn.python_corpus(w.n_pages, w.n_hosts), seeds, robots, budgets,
        default_budget=w.budget, max_waves=w.oracle_waves,
    )
    return {
        "wall_s": time.perf_counter() - t0,
        "order": res["order"],
        "metrics": res["metrics"],
        "seen": sorted(res["seen"]),
    }


def oracle(spark, w: Workload, seed: int, seeds: list[str], cache_dir: str) -> dict:
    """run_oracle once per (workload definition, seed); later runs reuse
    the file. It runs in a child process, so its corpus mirror does not
    count in the driver's peak RSS."""
    key = hashlib.sha1(repr(w).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"oracle-{w.name}-{key}-{seed}.json")
    if not os.path.exists(path):
        robots = [(r.host, r.pattern, r.allow) for r in syn.generate_robots(spark).collect()]
        budgets = {
            r.host: r.budget_per_wave
            for r in syn.generate_politeness(spark, w.n_hosts, w.budget).collect()
        }
        here = os.path.dirname(os.path.abspath(__file__))
        child = (
            "import pickle, sys; sys.path[:0] = sys.argv[1:3]; import json, program; "
            "json.dump(program._run_oracle(*pickle.load(sys.stdin.buffer)), sys.stdout)"
        )
        # a plain child process, waited for here; a multiprocessing pool
        # would leave its resource tracker running past this process
        p = subprocess.run(
            [sys.executable, "-c", child, here, os.path.dirname(here)],
            input=pickle.dumps((w, seeds, robots, budgets)),
            capture_output=True, check=True, timeout=600,
        )
        with open(path + ".tmp", "wb") as f:
            f.write(p.stdout)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


class Inputs:
    def __init__(self, spark, w: Workload, seed: int, pages_path: str, oracle_res: dict):
        self.seeds = spark.createDataFrame(
            [(u, 0, s) for s, u in enumerate(seed_urls(w, seed))],
            "url string, priority int, seq long",
        )
        self.pages = spark.read.parquet(pages_path)
        self.robots = syn.generate_robots(spark)
        self.politeness = syn.generate_politeness(spark, w.n_hosts, w.budget)
        self.fetcher = (
            fetch_mod.make_synthetic_fetcher(w.n_pages, w.n_hosts) if w.fetch == "udf" else None
        )
        self.oracle = oracle_res
        crawled = sorted({u for _, _, u in oracle_res["order"]})
        k = max(1, round(RETRACT_SHARE * len(crawled)))
        pick = random.Random(f"retract:{w.name}:{seed}").sample(crawled, 2 * k)
        self.forget, self.requeue = pick[:k], pick[k:]


# ----------------------------------------------------------------- program --
class Phases:
    """Wall time and Spark job ids per program phase. Every phase runs under
    its own job group, so job counts come from the status tracker and not
    from the capped global job list."""

    def __init__(self, sc, tag: str, tracer=None) -> None:
        self.sc, self.tag, self.tracer = sc, tag, tracer
        self.wall: dict[str, float] = {}
        self.jobs: dict[str, list[int]] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        group = f"{self.tag}:{name}"
        self.sc.setJobGroup(group, name)
        if self.tracer:
            self.tracer.enter(name, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = time.perf_counter() - t0
            if self.tracer:
                self.tracer.leave()
            self.jobs[name] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setJobGroup(f"{self.tag}:idle", "idle")


def new_engine(spark, w: Workload, inp: Inputs, root: str) -> CrawlEngine:
    return CrawlEngine(
        spark, SnapshotStore(root), inp.pages, inp.robots, inp.politeness,
        default_budget=w.budget, use_bloom=w.use_bloom, fetcher=inp.fetcher,
        compact_every=w.compact_every,
    )


def setup(spark, w: Workload, inp: Inputs, root: str) -> tuple[CrawlEngine, float]:
    """Engine construction plus bootstrap(seeds): wave 0 committed."""
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    eng = new_engine(spark, w, inp, root)
    eng.bootstrap(inp.seeds)
    return eng, time.perf_counter() - t0


def _wave_row(m: dict, secs: float) -> dict:
    return {"wave": m["wave"], "secs": secs, "urls": m["scheduled"] + m["new_urls"],
            "scheduled": m["scheduled"], "fetched": m["fetched"]}


def run_program(spark, w: Workload, inp: Inputs, eng: CrawlEngine, root: str, ph: Phases) -> dict:
    """Drive the workload's waves on a bootstrapped engine and check them.

    Returns the timed waves, resume and retract times, and the check
    result: per wave whether it failed, plus the invariant report.
    """
    waves: list[dict] = []  # completed waves

    def timed(wave: int) -> None:
        with ph.phase(f"wave{wave}"):
            t0 = time.perf_counter()
            m = eng.run_wave(wave)
            dt = time.perf_counter() - t0
        waves.append(_wave_row(m, dt))

    for wave in range(1, w.waves_before + 1):
        timed(wave)
    wave = w.waves_before + 1
    attempted = wave - 1
    killed = None
    if w.kill_wave:
        attempted += 1
        killed = wave
        with ph.phase(f"wave{wave}"), crash_after_frontier_commit(wave):
            try:
                eng.run_wave(wave)
            except InjectedCrash:
                pass
            else:
                raise RuntimeError("the injected crash did not fire")
        spark.catalog.clearCache()
        wave += 1
    # restart: a fresh engine on the same store runs the next wave
    attempted += 1
    with ph.phase(f"wave{wave}"):
        t0 = time.perf_counter()
        eng = new_engine(spark, w, inp, root)
        t1 = time.perf_counter()
        (m,) = eng.run(max_waves=1)
        t2 = time.perf_counter()
    if m["wave"] != wave:
        raise RuntimeError(f"resumed at wave {m['wave']}, expected {wave}")
    waves.append(_wave_row(m, t2 - t1))
    resume_s = t2 - t0

    with ph.phase("check"):
        failed = check_against_oracle(eng, inp.oracle, wave)
    with ph.phase("retract"):
        t0 = time.perf_counter()
        forgot = eng.retract(spark.createDataFrame([(u,) for u in inp.forget], "url string"))
        requeued = eng.retract(
            spark.createDataFrame([(u,) for u in inp.requeue], "url string"), requeue=True
        )
        retract_s = time.perf_counter() - t0
    last_oracle_wave = wave
    for _ in range(w.waves_after_retract):
        wave += 1
        attempted += 1
        timed(wave)
    with ph.phase("check"):
        inv = check_invariants(eng, inp, last_oracle_wave, forgot, requeued)
    if not inv["ok"]:
        failed[wave] = True  # a broken invariant fails the last wave
    failed_waves = sorted(k for k, v in failed.items() if v)
    return {
        # the killed wave's order and metrics rows are lost at restart, a
        # loss the engine documents for its crash window: it counts as a
        # failed wave, while any other failure makes the run incorrect
        "correct": inv["ok"] and set(failed_waves) <= {killed},
        "waves": waves,
        "attempted": attempted,
        "failed_waves": failed_waves,
        "resume_s": resume_s,
        "retract_s": retract_s,
        "invariants": inv,
    }


# ------------------------------------------------------------------ checks --
def compare_waves(order_rows, metric_rows, seen, oracle_res: dict, last_wave: int) -> dict:
    """Per wave 1..last_wave: True when its committed crawl-order rows
    (wave, seq, canon_url) or its committed metrics row differ from the
    oracle's (a missing row differs). A seen-set mismatch fails the last
    wave."""
    want_order: dict[int, list] = {}
    for wv, seq, url in oracle_res["order"]:
        want_order.setdefault(wv, []).append((wv, seq, url))
    got_order: dict[int, list] = {}
    for wv, seq, url in order_rows:
        got_order.setdefault(wv, []).append((wv, seq, url))
    want_m = {m["wave"]: m for m in oracle_res["metrics"]}
    got_m = {m["wave"]: m for m in metric_rows}
    failed = {}
    for wv in range(1, last_wave + 1):
        failed[wv] = (
            sorted(got_order.get(wv, [])) != sorted(want_order.get(wv, []))
            or got_m.get(wv) != want_m.get(wv)
        )
    if set(seen) != set(oracle_res["seen"]):
        failed[last_wave] = True
    return failed


def check_against_oracle(eng: CrawlEngine, oracle_res: dict, last_wave: int) -> dict:
    order = [(r.wave, r.seq, r.canon_url) for r in eng.crawl_order().collect()]
    keys = ("wave", "scheduled", "fetched", "new_urls", "pending_next")
    metrics = [r.asDict() for r in eng.store.read(eng.spark, "metrics").select(*keys).collect()]
    seen = [r.canon_url for r in eng.seen().select("canon_url").collect()]
    return compare_waves(order, metrics, seen, oracle_res, last_wave)


def check_invariants(eng: CrawlEngine, inp: Inputs, last_oracle_wave: int, forgot: dict, requeued: dict) -> dict:
    """State checks after retract: frontier keys and seqs unique, pending
    and seen both inside the frontier, pending inside seen, forgotten URLs
    out of seen unless a later wave rediscovered them, frontier rows =
    seen rows + forgotten rows not rediscovered, and requeued URLs back
    under their old seq (pending, or crawled again after the retract)."""
    rows = eng.frontier().select("url_hash", "canon_url", "seq", "status", "wave").collect()
    front = {r.canon_url: r for r in rows}
    seen = {r.canon_url for r in eng.seen().select("canon_url").collect()}
    order = eng.crawl_order().filter(F.col("wave") > last_oracle_wave)
    recrawled = {r.canon_url: r.seq for r in order.collect()}
    old_seq = {u: s for _, s, u in inp.oracle["order"]}
    pending = {u for u, r in front.items() if r.status == "pending"}
    rediscovered = {u for u in inp.forget if u in seen and front[u].wave > last_oracle_wave}
    not_back = [
        u for u in inp.requeue
        if not (
            recrawled.get(u) == old_seq[u]
            or (front[u].status == "pending" and front[u].seq == old_seq[u])
        )
    ]
    checks = {
        "frontier_keys_unique": len(rows) == len(front) == len({r.url_hash for r in rows}),
        "frontier_seqs_unique": len({r.seq for r in front.values()}) == len(front),
        "pending_subset_of_seen": pending <= seen,
        "seen_subset_of_frontier": seen <= set(front),
        "forgotten_out_of_seen": {u for u in inp.forget if u in seen} == rediscovered,
        "frontier_rows_eq_seen_plus_forgotten": (
            len(front) == len(seen) + len(inp.forget) - len(rediscovered)
        ),
        "forget_count": forgot.get("retracted") == len(inp.forget),
        "requeue_count": requeued.get("requeued") == len(inp.requeue),
        "requeued_under_old_seq": not not_back,
    }
    return {"ok": all(checks.values()), **checks}


# ----------------------------------------------------------------- helpers --
def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total
