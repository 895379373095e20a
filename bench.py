"""Benchmark runner — one JSON line on stdout.

Times (a) the frontier hot path (canonicalize -> hash -> membership-test ->
anti-join -> politeness rank) on a synthetic frontier scaled to the sf dir,
and (b) the headline analytic queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Every timed rep is STEAL-GATED (VERDICT r03 item 1): the sandbox host has
recurrent multi-minute hypervisor steal storms (an identical rep measured
2.6 s and 52 s an hour apart), so a rep only counts as clean when
/proc/stat steal during its window stays under STEAL_FRAC_CAP of the rep's
own core-seconds; dirty reps are retried (bounded) with a pause so storms
pass. The recorded JSON carries the steal fraction of every accepted
number — a reader can verify cleanliness without rerunning.

Output: {"metric": ..., "value": seconds, "unit": "sec",
         "queries": {name: sec}, "sf": ..., "frontier": {...}}

Scaling evidence (north rule: efficiency >= 0.8 from N to 4N): the
``scaling_n_to_4n`` block runs the same frontier kernel as two interleaved
N -> 4N pairs (``run_pair``), local[2] -> local[8] and 1 -> 4 executor
JVMs, each leg a live subprocess of this module (``_pair_leg``).
"""

from __future__ import annotations

import json
import os
import select
import shutil
import subprocess
import sys
import tempfile
import time

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod
from literature_crawler_spark.operators import cuckoo as cuckoo_mod
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "top_orders_per_customer",
    "events_first_seen",
    "crawl_canonicalize_counts",
    "crawl_seen_antijoin",
    "crawl_politeness_rank",
    "doc_token_stats",
    "doc_minhash_lsh",
    "ann_cosine_topk",
    "doc_embedding_near_dups",
    "image_decode_stats",
    "video_frame_sample",
    "doc_render_markdown",
    "html_to_markdown",
]

# a rep is clean when system-wide steal during its window stays under this
# fraction of the rep's own core-seconds (steal is a whole-VM counter, so
# an absolute cap would over-reject low-parallelism runs)
STEAL_FRAC_CAP = float(os.environ.get("SPARK_GRAFT_STEAL_CAP", "0.25"))


def _steal_ticks() -> int:
    """Cumulative hypervisor steal ticks (all cpus) — /proc/stat field 9."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return 0


def steal_gated_best(
    fn,
    cpus: int,
    clean_reps: int = 2,
    max_attempts: int = 8,
    sleep_s: float = 10.0,
) -> tuple[float, float, int, int, list[float]]:
    """min-of-clean-reps timing: run ``fn`` (returns elapsed seconds) until
    ``clean_reps`` reps pass the steal gate or attempts run out. Returns
    (best_sec, steal_frac_of_best, n_clean, n_attempts, clean_secs). If no
    rep comes back clean the best dirty rep is returned with its (high)
    steal fraction recorded — contamination stays visible, never silent."""
    best, best_frac, attempts, clean_secs = None, None, 0, []
    dirty_best, dirty_frac = None, None
    while len(clean_secs) < clean_reps and attempts < max_attempts:
        attempts += 1
        s0 = _steal_ticks()
        dt = fn()
        frac = (_steal_ticks() - s0) / 100.0 / (dt * cpus)
        if frac > STEAL_FRAC_CAP:
            # dirty reps NEVER set the reported best (a contaminated rep
            # can undercut slow-but-clean ones, making clean_reps>0 lie
            # about the number's provenance); kept only as the all-dirty
            # fallback
            if dirty_best is None or dt < dirty_best:
                dirty_best, dirty_frac = dt, frac
            time.sleep(sleep_s)  # storms last minutes: spread attempts out
            continue
        clean_secs.append(dt)
        if best is None or dt < best:
            best, best_frac = dt, frac
    if best is None:
        return dirty_best, dirty_frac, 0, attempts, clean_secs
    return best, best_frac, len(clean_secs), attempts, clean_secs


def _materialize(df) -> int:
    return df.write.format("noop").mode("overwrite").save() or 0


def _bench_urls(n_hosts: int):
    def urls(ids):
        host = F.when(F.col("id") % 10 == 0, F.lit(0)).otherwise(F.col("id") % n_hosts)
        return ids.select(
            F.col("id"),
            F.concat(
                F.lit("https://h"), host.cast("string"), F.lit(".example.org/page/"),
                F.col("id").cast("string"),
                F.when(F.col("id") % 4 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
            ).alias("url"),
        )

    return urls


def _kernel_once(spark, urls, seen, seen_n, n, store=None, shuffle=False) -> float:
    """One timed frontier-kernel rep: canonicalize -> hash ->
    membership-test -> anti-join -> politeness rank, materialized to noop.
    With a maintained ``store`` the probe is FUSED into the canonicalize
    Arrow kernel (one Python crossing — operators/frontier.py) and
    ``dedup_against_seen`` anti-joins only the maybe-seen rows; without
    one it takes the broadcast anti-join up to ``fr.BROADCAST_SEEN_MAX``
    seen keys and a plain anti-join above. ``shuffle=True`` replaces the
    seen test with a sort-merge (shuffle) anti-join of every candidate at
    any seen size."""
    t0 = time.time()
    cand = fr.canonicalize_candidates(
        urls(spark.range(n)), output_cols=["id"], probe_store=store
    )
    if shuffle:
        new = cand.join(seen.hint("shuffle_merge"), "url_hash", "left_anti")
    else:
        new = fr.dedup_against_seen(spark, cand, seen, expected_seen=seen_n)
    pending = new.select(
        "canon_url", "url_hash", "host",
        F.lit(0).alias("priority"), F.col("id").alias("seq"),
    )
    sched = pol.schedule_wave(pending, politeness=None, default_budget=1000)
    _materialize(sched)
    return time.time() - t0


def _timed_kernel(
    spark, urls, seen, seen_n, n_urls, cpus, store=None, shuffle=False, clean_reps=2
):
    """Steal-gated best of ``_kernel_once`` after a plan-identical warmup
    at a quarter of the size (at least 100k URLs, at most ``n_urls``)."""
    _kernel_once(
        spark, urls, seen, seen_n, max(n_urls // 4, min(n_urls, 100_000)), store, shuffle
    )
    return steal_gated_best(
        lambda: _kernel_once(spark, urls, seen, seen_n, n_urls, store, shuffle),
        cpus,
        clean_reps=clean_reps,
        max_attempts=10,
    )


def _seen_set(spark, urls, ids):
    """The seen keys of ``ids``' URLs, persisted and counted outside any
    timed section."""
    seen = fr.canonicalize_candidates(urls(ids), output_cols=[]).select("url_hash").persist()
    return seen, seen.count()


def _cuckoo_store(seen, seen_n: int):
    """A cuckoo store holding every seen key, merged untimed: a crawl
    maintains it incrementally across waves, so a wave only pays the
    probe."""
    store = cuckoo_mod.BucketedCuckooStore.create(
        tempfile.mkdtemp(prefix="cuckoobench_"), expected_items=seen_n, n_buckets=64
    )
    store.merge(seen)
    return store


def bench_frontier(spark, n_urls: int, cpus: int, n_hosts: int = 1000) -> dict:
    """Frontier kernel throughput: URLs scheduled+deduped per second.

    URL synthesis is pure Catalyst (concat over spark.range), so the
    measurement is dominated by the kernel itself: canonicalize -> xxhash64
    -> membership test -> anti-join vs a seen set (1/3 of the keyspace) ->
    per-host politeness ranking under a FIXED 1000-URL/host budget (the
    north rule's politeness-gated scheduling). Host skew: host 0 carries
    ~10% of URLs.

    Two seen-test paths are timed:
    * broadcast — exact broadcast anti-join (the path up to
      ``fr.BROADCAST_SEEN_MAX`` seen keys; past it the same call takes the
      plain anti-join, recorded as ``plain_antijoin``);
    * cuckoo — FUSED probe of a pre-maintained BucketedCuckooStore inside
      the canonicalize Arrow kernel, then the exact anti-join of the
      maybe-seen rows (the steady-state path: the store is merged
      incrementally per wave, so probe cost is what a production wave
      actually pays).
    """
    urls = _bench_urls(n_hosts)
    seen, seen_n = _seen_set(spark, urls, spark.range(0, n_urls, 3))

    # Steady-state measurement: a 10^10-frontier crawl runs this exact
    # codegen for hours, so JIT tier-up (the first run of the regex-heavy
    # canonicalize stage can be 10-20x slower than warm) is amortized to
    # zero. Warm each path with the full pipeline, take the best of the
    # steal-gated clean reps, and clear the cache BETWEEN paths.
    spark.range(10).mapInPandas(lambda it: it, "id long").count()

    def repin():
        spark.catalog.clearCache()
        seen.persist().count()

    # record which plan the store-less leg measured, so NO key (rate,
    # steal_frac, clean_reps) claims a broadcast that didn't happen
    plain_key = "broadcast" if seen_n <= fr.BROADCAST_SEEN_MAX else "plain_antijoin"
    t_plain = _timed_kernel(spark, urls, seen, seen_n, n_urls, cpus)
    repin()
    store = _cuckoo_store(seen, seen_n)
    # min-of-3 for the maintained-store probe (memory-bound random
    # gathers degrade under sub-cap neighbor pressure — see the at-scale
    # block's comment)
    t_cuckoo = _timed_kernel(spark, urls, seen, seen_n, n_urls, cpus, store, clean_reps=3)
    shutil.rmtree(store.root, ignore_errors=True)
    seen.unpersist()
    spark.catalog.clearCache()
    best = min(t_plain[0], t_cuckoo[0])
    return {
        "n_urls": n_urls,
        "seen_size": seen_n,
        "sec": round(best, 3),
        "urls_per_sec": round(n_urls / best),
        f"{plain_key}_path_urls_per_sec": round(n_urls / t_plain[0]),
        "cuckoo_path_urls_per_sec": round(n_urls / t_cuckoo[0]),
        "steal_frac": {
            plain_key: round(t_plain[1], 3),
            "cuckoo": round(t_cuckoo[1], 3),
        },
        "clean_reps": {plain_key: t_plain[2], "cuckoo": t_cuckoo[2]},
    }


def bench_frontier_large_seen(spark, n_urls: int, cpus: int, n_hosts: int = 1000) -> dict:
    """The seen = 2x candidates regime, past the broadcast ceiling at
    north-rule scale: the FUSED maintained cuckoo probe
    (canonicalize+hash+membership in one Arrow crossing, then the exact
    anti-join of the maybe-seen rows) vs a shuffle anti-join of every
    candidate — steady-state probe path, same kernel."""
    urls = _bench_urls(n_hosts)
    seen, seen_n = _seen_set(spark, urls, spark.range(0, n_urls * 2))
    store = _cuckoo_store(seen, seen_n)

    # the maintained-store probe is memory-bound random gathers, so reps
    # degrade several-fold under neighbor-VM pressure the steal counter
    # only partially sees (measured: reps at 4-14% steal — under the cap —
    # swing 0.15-3.1M URLs/s in one process while <2%-steal reps cluster
    # fast). min-of-3 clean reps keeps one degraded-but-"clean" window
    # from setting the artifact for this leg.
    t_cuckoo = _timed_kernel(spark, urls, seen, seen_n, n_urls, cpus, store, clean_reps=3)
    spark.catalog.clearCache()
    seen.persist().count()
    t_anti = _timed_kernel(spark, urls, seen, seen_n, n_urls, cpus, shuffle=True)
    seen.unpersist()
    spark.catalog.clearCache()
    shutil.rmtree(store.root, ignore_errors=True)
    cuckoo_secs = t_cuckoo[4] or [t_cuckoo[0]]
    return {
        "n_urls": n_urls,
        "seen_size": seen_n,
        "cuckoo_urls_per_sec": round(n_urls / t_cuckoo[0]),
        "shuffle_antijoin_urls_per_sec": round(n_urls / t_anti[0]),
        # one kernel, one input: a >2x spread between the cuckoo leg's
        # fastest and slowest clean reps means some "clean" reps were
        # contamination-slow (run F's 0.89M cuckoo outlier pattern) —
        # flagged in-artifact so a poisoned rep can't silently become a
        # headline number
        "store_leg_divergence": store_leg_divergence(
            n_urls / min(cuckoo_secs), n_urls / max(cuckoo_secs)
        ),
        "steal_frac": {
            "cuckoo": round(t_cuckoo[1], 3),
            "shuffle_antijoin": round(t_anti[1], 3),
        },
        "clean_reps": {"cuckoo": t_cuckoo[2], "shuffle_antijoin": t_anti[2]},
    }


def store_leg_divergence(rate_a: float, rate_b: float, cap: float = 2.0) -> dict:
    """Variance check for the maintained-store leg (ROADMAP item 3's
    guard): ``rate_a``/``rate_b`` are its fastest and slowest clean reps,
    the identical kernel over the same input, so their ratio should sit
    well under ``cap``; a bigger spread is a contaminated leg, not a real
    difference."""
    ratio = max(rate_a, rate_b) / max(1.0, min(rate_a, rate_b))
    return {"ratio": round(ratio, 2), "suspect": ratio > cap}


def bench_jaccard_dispatch(spark, cpus: int) -> dict:
    """Exact-Jaccard strategy dispatch (VERDICT r4 item 5): on each
    regime's corpus, time the prefix-filtered and brute joins and record
    which one ``choose_jaccard_path`` picked — ``picked_winner`` is the
    in-artifact proof that dispatch selects the measured winner on both
    sides of the documented crossover (prefix at near-dup t / hot
    corpora; brute for low-t scans of hot-shingle-free text). Corpora
    are shrunk versions of the round-4 measurement shapes (BENCH.md)."""
    import hashlib

    from literature_crawler_spark.operators import dedup

    n_clean = int(600 * max(cpus, 8) / 32)
    n_boiler = int(800 * max(cpus, 8) / 32)
    clean = spark.createDataFrame(
        [
            (i, " ".join(
                hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:10]
                for j in range(60)
            ))
            for i in range(n_clean)
        ],
        ["doc_id", "text"],
    ).persist()
    header = "this dataset is released under the creative commons attribution license; see the repository for citation detail and terms. "
    boiler = spark.createDataFrame(
        [
            (i, header + " ".join(f"u{i}t{j}z{j%7}" for j in range(40)))
            for i in range(n_boiler)
        ],
        ["doc_id", "text"],
    ).persist()
    clean.count(), boiler.count()

    def leg(corpus, t):
        def run(fn):
            def rep():
                t0 = time.time()
                _materialize(fn(corpus, "text", "doc_id", threshold=t))
                return time.time() - t0

            rep()  # warm
            best, frac, n_ok, *_ = steal_gated_best(
                rep, cpus, clean_reps=2, max_attempts=5, sleep_s=5.0
            )
            return round(best, 3), round(frac, 3), n_ok

        s_prefix = run(dedup.ngram_jaccard_prefix_pairs)
        s_brute = run(dedup.ngram_jaccard_pairs)
        picked = dedup.choose_jaccard_path(corpus, "text", "doc_id", threshold=t)
        # a winner below the noise band is a tie — in-suite reps of the
        # same leg swing >15% run-to-run, so asserting a pick at 1.05x
        # margins would flip randomly; either path is right at parity
        lo, hi = sorted((s_prefix[0], s_brute[0]))
        if hi < 1.15 * lo:
            winner = "tie"
        else:
            winner = "prefix" if s_prefix[0] <= s_brute[0] else "brute"
        return {
            "threshold": t,
            "sec_prefix": s_prefix[0], "sec_brute": s_brute[0],
            "steal_frac": {"prefix": s_prefix[1], "brute": s_brute[1]},
            "clean_reps": {"prefix": s_prefix[2], "brute": s_brute[2]},
            "picked": picked,
            "measured_winner": winner,
            "picked_winner": winner == "tie" or picked == winner,
        }

    out = {
        "clean_t05": leg(clean, 0.5),
        "boilerplate_t08": leg(boiler, 0.8),
        "n_docs": {"clean": n_clean, "boilerplate": n_boiler},
    }
    clean.unpersist()
    boiler.unpersist()
    return out


def bench_rendered_fetch(spark, n_pages: int, cpus: int, n_hosts: int = 1000) -> dict:
    """S6 rendered-fetch plumbing throughput: pages rendered+extracted per
    second through ``rendered_fetch_extract`` (salt repartition ->
    mapInPandas settle ladder -> Arrow column append) with the
    deterministic synthetic renderer.

    What this measures — and what it does not: a REAL headless Chrome
    renders ~0.5-2 pages/s per worker, so in production the browser, not
    Spark, is the bottleneck by 4-5 orders of magnitude. This leg instead
    bounds the ENGINE's share of the cost (Arrow batch transfer, the
    per-URL Python loop, schema append, the salt shuffle) so the claim
    "the plumbing never caps a browser fleet" is measured, not asserted:
    any pages/s number here >> any realistic fleet's aggregate render
    rate means S6 scales with renderer count, exactly like the S4 fetch
    stage it reuses the contract of.

    Page synthesis is pure Catalyst (the host formula mirrored as
    expressions over spark.range), so the timed region is dominated by
    the operator itself.
    """
    from literature_crawler_spark.operators import browser as br

    renderer = br.make_synthetic_renderer(n_pages, n_hosts)
    # Catalyst twin of sources/synthetic._host_of_index: u = (i*K) mod
    # 2^32; host 0 when u%3==0 (the supernode), else 1 + u%(n_hosts-1).
    u = (F.col("id") * F.lit(2654435761)) % F.lit(2**32)
    host = F.when(u % 3 == 0, F.lit(0)).otherwise((u % (n_hosts - 1)) + 1)
    sched = spark.range(n_pages).select(
        F.concat(
            F.lit("https://h"), host.cast("string"),
            F.lit(".example.org/page/"), F.col("id").cast("string"),
        ).alias("canon_url"),
        (F.col("id") % (4 * cpus)).cast("int").alias("salt"),
    )

    def rep():
        t0 = time.time()
        _materialize(br.rendered_fetch_extract(sched, renderer))
        return time.time() - t0

    rep()  # warm: Python worker fork + Arrow serializer + codegen
    best, frac, clean, *_ = steal_gated_best(rep, cpus)
    return {
        "n_pages": n_pages,
        "sec": round(best, 3),
        "pages_per_sec": round(n_pages / best),
        "steal_frac": round(frac, 3),
        "clean_reps": clean,
    }


def _calibrate_cpu() -> int:
    """Single-core integer-loop rate (iters/sec) — a host-speed anchor so
    rounds measured on different VMs/hosts can be normalized. The round-2
    box measured ~20M; a round-3 box measured ~13M (all Spark wall-times
    shifted by the same ~1.5-2.5x factor)."""
    n = 20_000_000
    t0 = time.time()
    s = 0
    for i in range(n):
        s += i * i
    return round(n / (time.time() - t0))


# ----------------------------------------------- N -> 4N scaling pairs ----


def _pair_leg(cpus: int, n_urls: int, master: str) -> None:
    """One leg of ``run_pair``, run as its own driver process: the
    frontier kernel at scale (seen = 2x candidates, past any broadcast
    ceiling, probed through a maintained cuckoo store), one full-size
    warmup rep, then the stdin/stdout protocol: ``@READY seen_n`` once,
    ``REP`` -> ``@REP sec steal_frac``, ``CALIB`` -> ``@CALIB loops/s``,
    ``QUIT`` ends the leg. ``local-cluster[N,C,M]`` runs N separate
    executor JVMs of C cores: the one-host stand-in for real executors,
    measuring whether per-JVM Arrow lanes multiply out."""
    extra = {}
    if master.startswith("local-cluster"):
        # executor heap = worker memory minus ~25% headroom (the worker
        # rejects executors asking for its full allotment)
        worker_mb = int(master.rstrip("]").split(",")[2])
        extra = {
            "spark.executor.memory": f"{max(worker_mb * 3 // 4, 1024)}m",
            "spark.executor.extraJavaOptions": "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=1",
        }
    spark = get_spark(
        "north", master=master, shuffle_partitions=max(2 * cpus, 4), extra_conf=extra
    )
    urls = _bench_urls(1000)
    seen, seen_n = _seen_set(spark, urls, spark.range(0, n_urls * 2))
    store = _cuckoo_store(seen, seen_n)
    _kernel_once(spark, urls, seen, seen_n, n_urls, store)  # JIT warmup, untimed
    print("@READY", seen_n, flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "REP":
            s0 = _steal_ticks()
            dt = _kernel_once(spark, urls, seen, seen_n, n_urls, store)
            frac = (_steal_ticks() - s0) / 100.0 / (dt * cpus)
            print("@REP", round(dt, 4), round(frac, 4), flush=True)
        elif cmd == "CALIB":
            # single-core host-speed anchor taken inside the leg, so a
            # ratio of two legs' calibrated rates cancels host drift
            print("@CALIB", _calibrate_cpu(), flush=True)
        elif cmd == "QUIT":
            break
    shutil.rmtree(store.root, ignore_errors=True)
    print("@DONE", flush=True)
    spark.stop()


def _leg_env(cpus: int) -> dict:
    """A pair leg's driver-JVM environment: GC pools sized to the leg,
    and a heap of a quarter of physical memory, since both legs' JVMs
    are alive at once (the kernel's working set is only a few GB)."""
    gc = max(2, min(cpus, 8))
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return dict(
        os.environ,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=f"-XX:ParallelGCThreads={gc} -XX:ConcGCThreads={max(gc // 4, 1)}",
        SPARK_GRAFT_DRIVER_MEM=f"{max(1024, host_mb // 4)}m",
    )


class _PairLeg:
    """One live ``_pair_leg`` subprocess.

    stderr goes to a tempfile (Spark logs would deadlock a full pipe);
    stdout is read line-by-line, skipping anything that is not a protocol
    line (Spark occasionally prints progress to stdout)."""

    # generous per-protocol-line deadline: the slowest legitimate wait is
    # @READY on the 4-JVM local-cluster leg (JVM spin-up + a 32M-key store
    # merge, ~1-2 min); a leg that produces NOTHING for this long is
    # wedged (e.g. a worker that never registers), and blocking forever
    # here would hang bench.py's whole scaling block — kill it and raise
    # so the caller's try/except still emits a bench artifact.
    EXPECT_TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_PAIR_TIMEOUT", "900"))

    def __init__(self, cpus: int, n_urls: int, master: str | None = None):
        self.master = master or f"local[{cpus}]"
        self._errf = tempfile.NamedTemporaryFile(
            mode="w", prefix=f"pairleg_{cpus}_", suffix=".err", delete=False
        )
        self.proc = subprocess.Popen(
            [sys.executable, "-c",
             f"import bench; bench._pair_leg({cpus}, {n_urls}, {self.master!r})"],
            env=_leg_env(cpus), cwd=REPO, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._errf,
        )
        self._errf.close()  # the leg holds its own copy of the descriptor
        self.seen_n = None

    def _fail(self, tag: str, why: str) -> RuntimeError:
        err_tail = ""
        try:
            with open(self._errf.name) as f:
                err_tail = f.read()[-2000:]
        except OSError:
            pass
        try:
            self.proc.kill()
        except OSError:
            pass
        return RuntimeError(
            f"pair leg {self.master} {why} waiting for {tag}: {err_tail}"
        )

    def _expect(self, tag: str) -> list[str]:
        deadline = time.time() + self.EXPECT_TIMEOUT_S
        while True:
            wait = deadline - time.time()
            if wait <= 0:
                raise self._fail(tag, f"hung >{self.EXPECT_TIMEOUT_S:.0f}s")
            r, _, _ = select.select([self.proc.stdout], [], [], min(wait, 30.0))
            if not r:
                continue
            line = self.proc.stdout.readline()
            if not line:
                raise self._fail(tag, "died")
            if line.startswith(tag):
                return line.split()

    def ready(self) -> None:
        self.seen_n = int(self._expect("@READY")[1])

    def _ask(self, cmd: str, tag: str) -> list[str]:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._expect(tag)

    def rep(self) -> tuple[float, float]:
        parts = self._ask("REP", "@REP")
        return float(parts[1]), float(parts[2])

    def calib(self) -> int:
        return int(self._ask("CALIB", "@CALIB")[1])

    def quit(self) -> None:
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()
        try:
            os.unlink(self._errf.name)
        except OSError:
            pass


def _median(xs: list[float]) -> float:
    # true median: even-length lists average the middle two (the upper-
    # middle alone would optimistically bias eff_paired_median whenever a
    # storm leaves an even clean-round count)
    ys = sorted(xs)
    mid = len(ys) // 2
    return ys[mid] if len(ys) % 2 else (ys[mid - 1] + ys[mid]) / 2.0


def run_pair(
    small: tuple[int, str | None],
    large: tuple[int, str | None],
    n_urls: int,
    want_clean: int = 5,
    max_rounds: int = 14,
    sleep_s: float = 10.0,
) -> dict:
    """Paired N -> 4N measurement of the frontier kernel. ``small`` and
    ``large`` are ``(cpus, master or None for local[cpus])``. Both legs
    stay alive; each round interleaves two reps per leg (a, b, a, b —
    never concurrent), so the round's efficiency ratio samples one host
    window. Each leg's round time is the MIN over its in-round reps that
    pass the steal gate (``STEAL_FRAC_CAP``): sub-gate steal contamination
    is discarded as long as ONE rep per leg lands clean, instead of
    poisoning that round's ratio. A round is clean only when BOTH legs
    got >= 1 gate-passing rep. Returns per-leg dicts plus the pair-level
    ``eff_paired_median`` = median over clean rounds of
    rate_large_i / (4 * rate_small_i)."""

    def _pick(reps):  # (sec, steal, clean): fastest gate-passing rep, else fastest
        cl = [(dt, frac) for dt, frac in reps if frac <= STEAL_FRAC_CAP]
        return min(cl or reps, key=lambda r: r[0]) + (bool(cl),)

    a = _PairLeg(small[0], n_urls, master=small[1])
    try:
        b = _PairLeg(large[0], n_urls, master=large[1])
    except BaseException:
        a.quit()  # leg a's JVM + stderr tempfile must not outlive a failed pair setup
        raise
    try:
        a.ready()
        b.ready()
        rounds: list[dict] = []
        clean = 0
        attempts = 0
        while clean < want_clean and attempts < max_rounds:
            attempts += 1
            reps_a, reps_b = [], []
            for _ in range(2):
                reps_a.append(a.rep())
                reps_b.append(b.rep())
            dt_a, fr_a, ok_a = _pick(reps_a)
            dt_b, fr_b, ok_b = _pick(reps_b)
            ok = ok_a and ok_b
            rounds.append({
                "sec_small": round(dt_a, 3), "sec_large": round(dt_b, 3),
                "steal_small": round(fr_a, 3), "steal_large": round(fr_b, 3),
                "reps_small": [round(dt, 3) for dt, _ in reps_a],
                "reps_large": [round(dt, 3) for dt, _ in reps_b],
                "clean": ok,
                "eff": round(dt_a / (4 * dt_b), 3),
            })
            if ok:
                clean += 1
            else:
                print(f"  dirty round (steal {fr_a:.0%}/{fr_b:.0%}), retrying",
                      flush=True)
                time.sleep(sleep_s)
        calib_a, calib_b = a.calib(), b.calib()
    finally:
        a.quit()
        b.quit()
    use = [r for r in rounds if r["clean"]] or rounds

    def leg(key: str, skey: str, cpus: int, master: str, calib: int) -> dict:
        best = min(use, key=lambda r: r[key])
        med = _median([r[key] for r in use])
        return {
            "cpus": cpus, "regime": "atscale", "n_urls": n_urls, "seen": a.seen_n,
            "sec": best[key], "rate": round(n_urls / best[key]),
            "clean_reps": clean, "attempts": attempts,
            "steal_frac_of_best_rep": best[skey],
            "sec_median": med, "rate_median": round(n_urls / med),
            "calib_loops_per_sec": calib,
            "master": master,
        }

    return {
        "small": leg("sec_small", "steal_small", small[0], a.master, calib_a),
        "large": leg("sec_large", "steal_large", large[0], b.master, calib_b),
        "rounds": rounds,
        "eff_paired_median": round(_median([r["eff"] for r in use]), 3),
        "all_rounds_dirty": clean == 0,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)

    sf = sf_dir.rstrip("/").split("sf")[-1]
    n_urls = int(float(os.environ.get("SPARK_GRAFT_BENCH_URLS", 8_000_000 * cpus / 32)))

    calib = _calibrate_cpu()
    steal0 = _steal_ticks()
    wall0 = time.time()

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    dirty_queries: dict[str, float] = {}
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        _materialize(df)  # warm: parquet footer reads + codegen JIT tier-up

        def rep():
            t0 = time.time()
            _materialize(df)
            return time.time() - t0

        best, frac, clean, *_ = steal_gated_best(
            rep, cpus, clean_reps=2, max_attempts=5, sleep_s=5.0
        )
        timings[name] = round(best, 3)
        if clean == 0:
            dirty_queries[name] = round(frac, 3)

    frontier = bench_frontier(spark, n_urls, cpus)
    # >5M-seen regime: candidates sized so seen ~ 2x n_urls crosses the
    # broadcast ceiling at the driver's sf0.1/32-cpu config
    frontier_large = bench_frontier_large_seen(spark, n_urls, cpus)
    # S6 plumbing leg: sized so one rep is ~1-2 s at the 32-cpu config
    # (~57k pages/s/core through the synthetic renderer)
    n_pages = int(float(os.environ.get(
        "SPARK_GRAFT_RENDER_PAGES", 1_000_000 * cpus / 32)))
    rendered = bench_rendered_fetch(spark, n_pages, cpus)
    jaccard = (
        None
        if os.environ.get("SPARK_GRAFT_SKIP_JACCARD")
        else bench_jaccard_dispatch(spark, cpus)
    )
    total = round(sum(timings.values()) + frontier["sec"], 3)
    spark.stop()  # one Spark JVM at a time: the executor legs spawn their own

    # North-rule N -> 4N scaling evidence, in the driver artifact itself.
    # Two pairs, same at-scale input (seen = 2x candidates through the
    # maintained cuckoo store), each pair measured INTERLEAVED — both
    # legs' JVMs stay alive and each round runs one rep on the small leg
    # then one on the large (never concurrent), so the round's efficiency
    # ratio samples one host window. Sequential legs run minutes apart
    # drifted with host speed (0.69 vs 0.91 for the same kernel across
    # back-to-back runs — drift the steal counter never sees); the paired
    # median-of-per-round-ratios is the headline efficiency.
    # * core pair — local[2] -> local[8], one JVM each;
    # * executor pair — 1 vs 4 SEPARATE executor JVMs (local-cluster,
    #   real inter-JVM shuffle, 2-core executors so even both pairs'
    #   combined footprint stays far under the box) — the rule's own
    #   shape: the per-JVM Arrow lane multiplies out with executor count.
    # Skippable via env; failure-tolerant so a sandbox without
    # local-cluster still produces a bench line.
    scaling = None
    if not os.environ.get("SPARK_GRAFT_SKIP_MULTIJVM"):
        try:
            # fixed per-leg costs (session, store cache load, shuffle
            # setup) distort small inputs badly — 2M URLs measured 0.18
            # executor "efficiency" where 8M measures 0.7-0.8 on the same
            # kernel — so the pairs always run at full size regardless of
            # the suite's URL knob. The executor pair needs 2x more again:
            # the 4-JVM leg carries ~1s of per-job scheduling/RPC/Arrow
            # warmup that the single-JVM legs don't, which at 8M URLs is
            # a quarter of its ~4s runtime (measured paired eff 0.58);
            # at 16M the work dominates and the same kernel measures
            # 0.93 paired (25.1s vs 6.75s, default shuffle compression).
            mj_urls = int(os.environ.get("SPARK_GRAFT_MULTIJVM_URLS", 8_000_000))
            exec_urls = int(os.environ.get(
                "SPARK_GRAFT_EXECPAIR_URLS", max(2 * mj_urls, 16_000_000)))
            core = run_pair((2, None), (8, None), mj_urls,
                            want_clean=5, max_rounds=14)
            execp = run_pair(
                (2, "local-cluster[1,2,4096]"), (8, "local-cluster[4,2,4096]"),
                exec_urls, want_clean=5, max_rounds=14,
            )

            def eff(num, den, key="rate"):
                return round(num[key] / (4 * den[key]), 3)

            def eff_cal(num, den, key="rate"):
                # per-leg single-core calibration cancels residual
                # host-speed drift (secondary check on the paired number)
                return round(
                    (num[key] / num["calib_loops_per_sec"])
                    / (4 * den[key] / den["calib_loops_per_sec"]), 3
                )

            def pair_block(p, names):
                small, large = p["small"], p["large"]
                return {
                    names[0]: small, names[1]: large,
                    "rounds": p["rounds"],
                    "all_rounds_dirty": p["all_rounds_dirty"],
                    # paired = median over clean rounds of
                    # rate_large_i / (4 * rate_small_i); the aggregate
                    # median/min variants stay for cross-checking
                    f"eff_{names[2]}_paired": p["eff_paired_median"],
                    f"eff_{names[2]}_median": eff(large, small, "rate_median"),
                    f"eff_{names[2]}_min": eff(large, small),
                    f"eff_{names[2]}_calibrated": eff_cal(
                        large, small, "rate_median"
                    ),
                }

            scaling = {
                "core_pair": pair_block(
                    core, ("local2", "local8", "2_to_8_cores")
                ),
                "executor_pair": pair_block(
                    execp, ("executors_1x2", "executors_4x2", "1_to_4_executors")
                ),
            }
        except Exception as e:  # never fail the bench artifact
            scaling = {"error": str(e)[:300]}

    wall = time.time() - wall0
    steal_sec = (_steal_ticks() - steal0) / 100.0
    artifact = {
        "metric": "headline_suite_plus_frontier_kernel",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "frontier": frontier,
        "frontier_large_seen": frontier_large,
        "rendered_fetch": rendered,
        "jaccard_dispatch": jaccard,
        "scaling_n_to_4n": scaling,
        "host_calibration": {
            "single_core_loop_per_sec": calib,
            "steal_cpu_sec_during_bench": round(steal_sec, 1),
            "steal_pct_of_capacity": round(
                100.0 * steal_sec / (wall * (os.cpu_count() or cpus)), 2
            ),
            "steal_frac_cap": STEAL_FRAC_CAP,
            "bench_wall_sec": round(wall, 1),
            "queries_without_clean_rep": dirty_queries,
        },
    }
    # Full detail (per-leg sec/attempts/calibration, per-path steal
    # fractions) goes to a repo file; stdout carries a COMPACT line. The
    # round-3 driver recorded only a 2000-char tail of stdout — a JSON
    # line longer than that risks truncating the round's entire bench
    # record, so the printed line elides nested diagnostics and points at
    # the file (r3's line was 1079 chars; the full round-4 artifact is
    # ~3.5k).
    try:
        with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as f:
            json.dump(artifact, f, indent=1)
    except OSError:
        pass

    def _slim_frontier(d: dict) -> dict:
        keep = (
            "n_urls", "seen_size", "sec", "urls_per_sec",
            "broadcast_path_urls_per_sec", "plain_antijoin_path_urls_per_sec",
            "cuckoo_path_urls_per_sec",
            "cuckoo_urls_per_sec", "shuffle_antijoin_urls_per_sec",
        )
        out = {k: d[k] for k in keep if k in d}
        out["max_steal_frac"] = max(d["steal_frac"].values())
        out["min_clean_reps"] = min(d["clean_reps"].values())
        if "store_leg_divergence" in d:
            out["store_leg_divergence"] = d["store_leg_divergence"]
        return out

    def _slim_scaling(s: dict | None) -> dict | None:
        # throughput at both parallelism levels + efficiency (the north
        # rule's exact ask). Headline eff is the PAIRED number (median of
        # per-round interleaved ratios — each ratio sampled one host
        # window); per-round detail / min / calibrated variants live in
        # BENCH_FULL.json
        if not s or "error" in s:
            return s
        cp, ep = s["core_pair"], s["executor_pair"]
        clean = min(
            d["clean_reps"]
            for d in (cp["local2"], ep["executors_1x2"])
        )
        return {
            "min_clean_rounds": clean,
            "core_pair": {
                "n_urls": cp["local2"]["n_urls"],
                "seen": cp["local2"]["seen"],
                "rate_local2": cp["local2"]["rate_median"],
                "rate_local8": cp["local8"]["rate_median"],
                "eff_2_to_8_cores": cp["eff_2_to_8_cores_paired"],
                "eff_calibrated": cp["eff_2_to_8_cores_calibrated"],
            },
            "executor_pair": {
                "n_urls": ep["executors_1x2"]["n_urls"],
                "seen": ep["executors_1x2"]["seen"],
                "rate_1x2": ep["executors_1x2"]["rate_median"],
                "rate_4x2": ep["executors_4x2"]["rate_median"],
                "eff_1_to_4_executors": ep["eff_1_to_4_executors_paired"],
                "eff_calibrated": ep["eff_1_to_4_executors_calibrated"],
            },
        }

    compact = dict(artifact)
    compact["frontier"] = _slim_frontier(frontier)
    compact["frontier_large_seen"] = _slim_frontier(frontier_large)
    compact["scaling_n_to_4n"] = _slim_scaling(scaling)
    if jaccard:
        compact["jaccard_dispatch"] = {
            k: {
                "picked": v["picked"],
                "winner": v["measured_winner"],
                "picked_winner": v["picked_winner"],
                "sec_prefix": v["sec_prefix"],
                "sec_brute": v["sec_brute"],
            }
            for k, v in jaccard.items()
            if isinstance(v, dict) and "picked" in v
        }
    compact["full_detail"] = "BENCH_FULL.json"
    print(slim_stdout_line(compact))


# a reader that keeps only a ~2000-char stdout TAIL loses a longer line's
# HEAD (the '{"metric"' prefix), and the bench record fails to parse
STDOUT_LINE_MAX = 1900


def slim_stdout_line(compact: dict) -> str:
    """The bench's one stdout JSON line, slimmed in stages until it is at
    most STDOUT_LINE_MAX chars: Jaccard dispatch down to its pick, then
    host calibration down to two fields, and as a last resort only the
    headline metric with a pointer to ``full_detail``."""
    compact = dict(compact)
    line = json.dumps(compact)
    if len(line) > STDOUT_LINE_MAX and compact.get("jaccard_dispatch"):
        compact["jaccard_dispatch"] = {
            k: {"picked": v["picked"], "picked_winner": v["picked_winner"]}
            for k, v in compact["jaccard_dispatch"].items()
        }
        line = json.dumps(compact)
    if len(line) > STDOUT_LINE_MAX and isinstance(compact.get("host_calibration"), dict):
        hc = compact["host_calibration"]
        compact["host_calibration"] = {
            k: hc[k]
            for k in ("single_core_loop_per_sec", "steal_pct_of_capacity")
            if k in hc
        }
        line = json.dumps(compact)
    if len(line) > STDOUT_LINE_MAX:
        line = json.dumps({
            k: compact[k] for k in ("metric", "value", "unit", "full_detail")
            if k in compact
        })
    return line


if __name__ == "__main__":
    main()
