"""Wave-loop crawl scheduler: the end-to-end frontier pipeline.

Per wave (reference's per-URL loop ``protocol_io_crawl.py:97-271``
re-expressed as one DataFrame pass):

    frontier(pending) -> politeness rank (per-host quota) -> fetch
    (join against the pages corpus) -> extract links (explode) ->
    canonicalize -> first-seen dedup -> membership test vs seen ->
    robots filter -> assign dense seq -> commit snapshots (frontier,
    seen, order, metrics, lineage)

The ``order`` table is the crawl log: one row per scheduled URL with its
wave, seq, host and fetch status (``fetched``/``missing``).

The stages that later jobs read more than once (scheduled, fetched, the
deduplicated candidates, the seq partitioning and the new frontier rows)
end in eager ``localCheckpoint`` fences, so each later action plans from
a leaf scan rather than the whole wave's lineage.

Each snapshot commit is atomic per table, not per wave: a wave writes its
tables one after another, so a run killed between two of them resumes
with some tables a wave ahead. Resume continues from the latest committed
frontier, and ``CrawlEngine._reconcile_crash_window`` heals the one window
that matters for correctness, a frontier commit whose seen commit is
missing (reference analogue: frozen Redis ``crawl_list_{task}`` reload,
``nature_protocol_crawl.py:67-88``).

Determinism contract (shared with oracle.crawl_oracle): seq is a dense
global counter; new URLs are numbered in (parent_seq, link_pos) order;
scheduling takes the per-host (priority, seq)-lowest rows up to the host
budget; priority of a URL = the wave that discovered it (BFS depth).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from literature_crawler_spark.operators import cuckoo as cuckoo_mod
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.plans.state import SnapshotStore

FRONTIER_COLS = ["canon_url", "url_hash", "bucket", "host", "priority", "seq", "wave", "status"]

# two_phase scheduling: engage the supernode pre-rank when a tracked host's
# estimated pending backlog reaches this many times its per-wave budget —
# the single-window-task sort is ~backlog log backlog, so 32x budget is
# where it visibly outweighs the extra pending shuffle (politeness.py:44-53).
AUTO_TWO_PHASE_RATIO = 32
# bound on the driver-side hot-host dict (two_phase estimate)
MAX_TRACKED_HOSTS = 10_000


def assign_global_seq(
    df: DataFrame,
    order_cols: list[str],
    start: int,
    return_count: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Dense global sequence numbers in (order_cols) order, two-phase:

    1. range-repartition + sort on the order key (ranges are disjoint, so
       global order = (partition range order, within-partition order));
    2. per-partition row_number + a tiny collected offset map (one count
       per partition, broadcast back as a literal map).

    This is the scalable replacement for a single-partition window — the
    per-partition windows run in parallel, and only ~n_partitions longs hit
    the driver. Requires order_cols to be a unique key.

    ``return_count=True`` also returns the total row count — it falls out
    of the offset map for free, so callers need no separate count() pass.
    The repartitioned input is fenced with an eager ``localCheckpoint``:
    the counts pass and every consumer of the result read that one
    materialization and plan from it, not from the input's lineage.
    """
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    parts = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {r["_pid"]: r["cnt"] for r in parts.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc - start
    if not offsets:
        out = df.withColumn("seq", F.lit(None).cast("long"))
        return (out, 0) if return_count else out
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(*[F.col(c).asc() for c in order_cols])
    out = (
        parts.withColumn("seq", (omap[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"))
        .drop("_pid")
    )
    return (out, total) if return_count else out


class CrawlEngine:
    """Drives the wave loop over SnapshotStore-backed state tables."""

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        pages: DataFrame,
        robots: DataFrame | None = None,
        politeness: DataFrame | None = None,
        default_budget: int = pol.DEFAULT_BUDGET,
        n_buckets: int = fr.DEFAULT_N_BUCKETS,
        use_bloom: str | bool = "auto",
        fetcher=None,
        compact_every: int | None = 8,
        compact_seen_every: int | None = 32,
    ) -> None:
        self.spark = spark
        self.store = store
        # Static inputs are planned once and persisted lazily (the first
        # wave or bootstrap fills the cache): every wave reads them, and
        # recomputing them per wave costs Python tasks (a robots or
        # politeness table built from a Python list), a Parquet decode of
        # the pages and the robots regex translation. They are snapshots
        # of the inputs as given: refreshed robots rules need a new engine.
        self.robots = None if robots is None else fr.prepare_robots(robots).persist()
        self.politeness = (
            None if politeness is None
            else politeness.select("host", "budget_per_wave").persist()
        )
        self.default_budget = default_budget
        self.n_buckets = n_buckets
        # fold the frontier's merge-delta chain back into a replace base
        # every N waves (Iceberg-style table maintenance), then reclaim the
        # folded pre-base snapshots (expire-snapshots) so frontier storage
        # is O(frontier), not O(frontier x compactions)
        self.compact_every = compact_every
        # seen is append-only (one snapshot dir per wave); folding it into
        # a replace base bounds the reader's union width (file listing /
        # planning cost at 10^4+ waves) at the price of an O(seen) rewrite
        # — so its cadence is SLOWER than the frontier's merge-chain
        # compaction (rewrite cost amortizes over more waves; Iceberg's
        # analogue is data-file bin-packing on a maintenance schedule)
        self.compact_seen_every = compact_seen_every
        # The seen store. use_bloom='cuckoo' maintains a BucketedCuckooStore
        # next to the state tables (one table file per url_hash bucket and
        # generation, executor-built) whose probe runs inside the
        # canonicalize kernel; it is deletable, so retract removes keys.
        # 'auto' uses the broadcast anti-join while seen is small, then
        # SELF-UPGRADES to a maintained cuckoo store the first wave after
        # committed seen crosses fr.BROADCAST_SEEN_MAX. False keeps no
        # store (exact anti-join only). Every seen commit of a store-keeping
        # engine carries the store's descriptor, so the store holds exactly
        # the keys of the seen snapshot that names it: an engine adopts the
        # generation the latest seen snapshot names, and builds one from
        # seen when that snapshot names none (written by a use_bloom=False
        # engine or by stream ingest) or its files are gone (a rollback).
        if use_bloom is not False and use_bloom not in ("auto", "cuckoo"):
            raise ValueError(
                f"use_bloom must be 'auto', 'cuckoo' or False, got {use_bloom!r}"
            )
        self.use_bloom = use_bloom
        self._seen_store = None
        self._store_root = os.path.join(store.root, "bloom")
        if use_bloom is not False:
            seen_meta = (self.store.latest("seen") or {}).get("meta", {})
            st = None
            if "cuckoo" in seen_meta:
                st = cuckoo_mod.BucketedCuckooStore.adopt(self._store_root, seen_meta["cuckoo"])
            if st is not None and all(map(os.path.exists, st.paths().values())):
                self._seen_store = st
            elif use_bloom == "cuckoo":
                # 'auto' builds its store in run_wave once seen is large
                self._build_store(expected_items=2_000_000)
        # Optional Arrow-UDF fetch path (operators.fetch.Fetcher): when set,
        # waves fetch via mapInPandas over salt-spread partitions (the live
        # deploy path) instead of hash-joining the pages corpus table. Both
        # paths produce the identical fetched set on the synthetic corpus
        # (tests/test_fetch.py).
        self.fetcher = fetcher
        # two_phase scheduling (pol.schedule_wave): the supernode pre-rank
        # is on only when a tracked host's estimated pending backlog
        # exceeds AUTO_TWO_PHASE_RATIO x its budget —
        # the regime where a single per-host window task becomes the
        # Amdahl cap (politeness.py:44-53). The estimate comes from the
        # per-wave new-URL counts of hosts that net-grow (> budget new
        # rows in a wave), drained by ~budget per wave; the tracking dict
        # is bounded (only net-growing hosts enter, shrunk when it
        # exceeds MAX_TRACKED_HOSTS), so the driver holds O(hot hosts),
        # never O(all hosts).
        # The estimate rides every frontier manifest, so a resumed engine
        # makes the same choice as an uninterrupted one.
        self._hot_backlog: dict[str, int] = dict(
            (self.store.latest("frontier") or {}).get("meta", {}).get("hot_backlog", {})
        )
        # the fetchable web: canonical url -> (host, links, caption, image_id)
        self.pages = pages.select(
            F.col("url").alias("page_url"),
            F.col("host").alias("page_host"),
            "links",
            "caption",
            "image_id",
        ).persist()

    # ------------------------------------------------------------ state ----
    def _build_store(self, expected_items: int, delta: DataFrame | None = None) -> None:
        """Build the seen store from the authoritative key set: committed
        seen plus ``delta``, keys about to be committed with it.
        Fingerprints cannot recover their keys, so this is also how the
        store grows (the resize contract in operators/cuckoo.py): a build
        that overflows starts over at double the capacity."""
        parts = [df.select("url_hash") for df in (self.seen(), delta) if df is not None]
        keys = None
        if parts:
            keys = reduce(DataFrame.unionByName, parts).dropDuplicates(["url_hash"]).persist()
        try:
            while True:
                self._seen_store = cuckoo_mod.BucketedCuckooStore.create(
                    self._store_root, expected_items=expected_items, n_buckets=self.n_buckets
                )
                if keys is None:
                    return
                try:
                    self._seen_store.merge(keys)
                    return
                except cuckoo_mod.CuckooOverflow:
                    expected_items *= 2
        finally:
            if keys is not None:
                keys.unpersist()

    def _store_merge(self, delta: DataFrame) -> None:
        """Merge a url_hash delta into the seen store as its next
        generation; a store that overflows is rebuilt at double capacity
        from committed seen plus the delta."""
        try:
            self._seen_store.merge(delta)
        except cuckoo_mod.CuckooOverflow:
            st = self._seen_store
            self._build_store(2 * st.bucket_rows * cuckoo_mod.SLOTS * st.n_buckets, delta)

    def _commit_seen(self, df: DataFrame, mode: str, wave: int | None, meta: dict) -> None:
        """Commit a seen snapshot with the descriptor of the store
        generation that holds exactly its keys, then delete the store
        files that generation does not name."""
        if self._seen_store is not None:
            meta = {**meta, "cuckoo": self._seen_store.descriptor()}
        self.store.commit("seen", df, mode=mode, wave=wave, meta=meta)
        if self._seen_store is not None:
            self._seen_store.drop_unnamed()

    def seen(self) -> DataFrame | None:
        return self.store.read(self.spark, "seen")

    def retract(self, to_retract: DataFrame, url_col: str = "url", requeue: bool = False) -> dict:
        """Make URLs crawlable again — the recrawl-after-expiry path
        (reference analogue: a protocol whose ``version_id`` changed
        re-enters the crawl, ``protocol_io_crawl.py`` update branch).

        ``requeue=True`` (recrawl): the URL KEEPS its seen/store
        membership — it is still in the frontier, so link re-discovery
        must keep deduping against it — and only its frontier row flips
        back to ``pending`` (keeping its seq), so the next wave
        re-schedules it. Removing it from seen here would let the same
        URL re-enter as "new" with a fresh seq in the same wave that
        also writes its fetch outcome (two rows under one merge
        snapshot, nondeterministic reader tie-break) and re-fetch it a
        third time on any later link hit. This mirrors the reference,
        whose update branch re-fetches an EXISTING row without deleting
        it, and preserves the invariant the crash-window reconciler
        relies on: every pending frontier row is in seen.

        ``requeue=False`` (forget): seen is rewritten without the keys
        (copy-on-write delete; an Iceberg deploy writes position deletes
        instead — same semantics, same reader contract), so a later link
        re-discovery recrawls the URL from scratch under a NEW seq.
        Only FETCHED rows are forgettable: a still-pending row has not
        been crawled (there is nothing to forget), and removing its seen
        key while the row stays scheduled would break the ``pending
        frontier rows ⊆ seen`` invariant — the next wave would fetch it
        under its old seq while link re-discovery re-admits it under a
        new one (two frontier rows in one merge snapshot,
        nondeterministic reader tie-break). In-flight rows are silently
        excluded; recrawling one is ``requeue=True``'s job.
        The cuckoo store deletes the keys as a new generation, and the
        seen commit names it: each key was inserted exactly once into the
        generation the previous seen snapshot names, so the delete removes
        exactly its own fingerprint.

        The matched keys and the flipped frontier rows end in eager
        ``localCheckpoint`` fences, as the wave's stages do: later jobs
        plan from the fence, and its count rides an Observation on the
        fence's own job.

        Returns ``{"matched": keys found eligible, "retracted": keys
        removed from seen (0 under requeue), "requeued": frontier rows
        flipped back to pending (0 under forget)}``.
        """
        seen = self.seen()
        if seen is None:
            return {"retracted": 0, "matched": 0, "requeued": 0}
        cand = fr.canonicalize_candidates(to_retract.select(F.col(url_col).alias("url")))
        keys = (
            cand.select("url_hash")
            .dropDuplicates(["url_hash"])
            .join(seen.select("url_hash"), "url_hash", "left_semi")
        )
        if not requeue:
            frontier = self.frontier()
            if frontier is not None:
                keys = keys.join(
                    frontier.filter(F.col("status") == "pending").select("url_hash"),
                    "url_hash",
                    "left_anti",
                )
        obs_keys = Observation()
        keys = keys.observe(obs_keys, F.count("*").alias("n")).localCheckpoint(eager=True)
        n = int(obs_keys.get["n"])
        if n == 0:
            return {"retracted": 0, "matched": 0, "requeued": 0}
        if requeue:
            frontier = self.frontier()
            # only rows whose status actually changes count toward the
            # pending meta — seeds/new rows are in seen while still
            # 'pending', so flipping them too would double-count
            obs_flip = Observation()
            flip = (
                frontier.join(keys, "url_hash", "left_semi")
                .filter(F.col("status") != "pending")
                .drop("status")
                .withColumn("status", F.lit("pending"))
                .select(*FRONTIER_COLS)
                .observe(obs_flip, F.count("*").alias("n"))
                .localCheckpoint(eager=True)
            )
            n_requeued = int(obs_flip.get["n"])
            prev_meta = (self.store.latest("frontier") or {}).get("meta", {})
            # a requeue flips statuses only: the seq high-water and the
            # hot-host estimate are unchanged
            meta = {k: prev_meta[k] for k in ("max_seq", "hot_backlog") if k in prev_meta}
            meta["pending"] = prev_meta.get("pending", 0) + n_requeued
            meta["delta_rows"] = n_requeued
            self.store.commit(
                "frontier", flip, mode="merge", wave=self.last_wave(),
                meta=meta, merge_key=["url_hash"],
            )
            return {"retracted": 0, "matched": n, "requeued": n_requeued}
        remaining = seen.join(keys, "url_hash", "left_anti")
        prev_total = (self.store.latest("seen") or {}).get("meta", {}).get("total")
        if prev_total is None:
            prev_total = seen.count()
        if self._seen_store is not None:
            self._seen_store.delete(keys)
        self._commit_seen(
            remaining, "replace", self.last_wave(),
            {"total": prev_total - n, "retracted": n},
        )
        return {"retracted": n, "matched": n, "requeued": 0}

    def frontier(self) -> DataFrame | None:
        return self.store.read(self.spark, "frontier")

    def crawl_order(self) -> DataFrame | None:
        order = self.store.read(self.spark, "order")
        return None if order is None else order.select("wave", "seq", "host", "canon_url")

    def last_wave(self) -> int | None:
        m = self.store.latest("frontier")
        return None if m is None else m["wave"]

    # -------------------------------------------------------- bootstrap ----
    def bootstrap(self, seeds: DataFrame) -> int:
        """Wave 0: canonicalize + first-seen-dedup + robots-filter the seed
        list, number it densely, commit as the initial pending frontier."""
        cand = fr.canonicalize_candidates(seeds.select(F.col("url"), F.col("seq").alias("seed_seq")))
        cand = fr.first_seen_dedup(cand, ["seed_seq"])
        if self.robots is not None:
            cand = fr.apply_robots(cand, self.robots)
        cand, n = assign_global_seq(cand, ["seed_seq"], start=0, return_count=True)
        frontier0 = cand.select(
            "canon_url", "url_hash", "bucket", "host",
            F.lit(0).alias("priority"), "seq",
            F.lit(0).alias("wave"), F.lit("pending").alias("status"),
        )
        self.store.commit(
            "frontier", frontier0, mode="replace", wave=0,
            meta={"pending": n, "total": n, "max_seq": n - 1},
        )
        if self._seen_store is not None:
            self._store_merge(frontier0.select("url_hash"))
        self._commit_seen(
            frontier0.select("url_hash", "canon_url", "bucket", "wave"),
            "append", 0, {"added": n, "total": n},
        )
        return n

    # ------------------------------------------------------------- wave ----
    def _use_two_phase(self) -> bool:
        cut = AUTO_TWO_PHASE_RATIO * self.default_budget
        return any(v >= cut for v in self._hot_backlog.values())

    def _update_hot_backlog(self, new_rows: DataFrame, n_new: int) -> None:
        """Maintain the bounded hot-host backlog estimate (two_phase).

        Hosts gaining more than one budget of NEW pending URLs in a wave
        net-grow (they drain at most budget/wave), so only those enter the
        dict; every tracked host is drained by budget each wave and
        evicted at zero. One tiny job over the fenced new_rows.
        """
        budget = self.default_budget
        for h in list(self._hot_backlog):
            self._hot_backlog[h] -= budget
            if self._hot_backlog[h] <= 0:
                del self._hot_backlog[h]
        if not n_new:
            return
        hot = (
            new_rows.groupBy("host").agg(F.count("*").alias("n"))
            .filter(F.col("n") > budget)
            .collect()
        )
        for r in hot:
            self._hot_backlog[r["host"]] = self._hot_backlog.get(r["host"], 0) + r["n"]
        if len(self._hot_backlog) > MAX_TRACKED_HOSTS:  # keep the hottest
            keep = sorted(self._hot_backlog.items(), key=lambda kv: -kv[1])
            self._hot_backlog = dict(keep[:MAX_TRACKED_HOSTS])

    def run_wave(self, wave: int) -> dict:
        frontier = self.frontier()
        pending = frontier.filter(F.col("status") == "pending")
        prev_meta = (self.store.latest("frontier") or {}).get("meta", {})

        # Every stage below that later jobs read more than once ends in an
        # eager localCheckpoint fence: the stage runs once, and each later
        # action plans from the fence's leaf scan instead of re-planning
        # the wave's whole lineage (and matching it against every cached
        # plan), which otherwise costs more driver time than the jobs run.
        # A fence's rows live on the executors only, so a lost executor
        # fails the wave; run() then resumes from the last committed
        # snapshot, as after any crash. A count the wave needs rides an
        # Observation on the fence's own job.

        # 1. politeness: per-host quota ranking (one shuffle on host);
        #    the supernode pre-rank engages only when a tracked host's
        #    backlog estimate crosses the ratio cut
        obs_sched = Observation()
        scheduled = pol.schedule_wave(
            pending, self.politeness, self.default_budget,
            two_phase=self._use_two_phase(),
        ).observe(obs_sched, F.count("*").alias("n")).localCheckpoint(eager=True)
        n_scheduled = int(obs_sched.get["n"])  # early-exit gate
        if n_scheduled == 0:
            return {"wave": wave, "scheduled": 0, "done": True}

        # 2. fetch: either the Arrow-UDF fetcher over salt-spread partitions
        #    (live deploy path) or a hash-join vs the pages corpus table
        #    (cheaper when the "web" is itself a table, as in tests/bench).
        obs = Observation()
        if self.fetcher is not None:
            from literature_crawler_spark.operators import fetch as fetch_mod

            fetched = (
                fetch_mod.fetch_extract(scheduled, self.fetcher)
                .withColumn(
                    "page_url",
                    F.when(F.col("fetch_status") == "fetched", F.col("canon_url")),
                )
                .withColumn("page_host", F.col("host"))
            )
        else:
            fetched = scheduled.join(
                self.pages, scheduled.canon_url == self.pages.page_url, "left"
            )
        fetched = fetched.observe(
            obs, F.count(F.col("page_url")).alias("n_fetched")
        ).localCheckpoint(eager=True)
        n_fetched = int(obs.get["n_fetched"])

        # 3. extract + canonicalize candidate links (posexplode keeps the
        #    in-document order the first-seen dedup needs — A4 semantics)
        #    coalesced (narrow, no shuffle) to at most one partition per
        #    core: the kernel below is a Python task per partition, and each
        #    one has a fixed start-up cost far above its per-row work
        links = fetched.filter(F.col("page_url").isNotNull()).select(
            F.col("seq").alias("parent_seq"),
            F.col("page_host").alias("base_host"),
            F.posexplode("links").alias("pos", "link"),
        ).coalesce(self.spark.sparkContext.defaultParallelism)
        # auto-upgrade: once the committed seen set outgrows the broadcast
        # anti-join (fr.BROADCAST_SEEN_MAX keys), 'auto' switches to a
        # MAINTAINED cuckoo store (BENCH.md: cuckoo probe 2.6-3.8M URLs/s
        # at local[32], O(1) delete for retract). Built once from
        # committed seen, then merged incrementally per wave like
        # 'cuckoo'; this wave's seen commit names it.
        seen_meta = self.store.latest("seen")
        seen_total = (seen_meta or {}).get("meta", {}).get("total") or 0
        if (
            self.use_bloom == "auto"
            and self._seen_store is None
            and seen_total > fr.BROADCAST_SEEN_MAX
        ):
            self._build_store(expected_items=2 * seen_total)
        # when a maintained seen store exists, the seen-probe runs
        # INSIDE the canonicalize Arrow kernel (one Python crossing for
        # canonicalize+hash+membership-test instead of two — the local-mode
        # Arrow lane is the kernel's ceiling, BENCH.md); dedup_against_seen
        # then just splits on the carried _maybe_seen flag
        cand = fr.canonicalize_candidates(
            links.withColumnRenamed("link", "url"), base_host_col="base_host",
            probe_store=self._seen_store,
        )
        cand = fr.first_seen_dedup(cand, ["parent_seq", "pos"])

        # 4. membership test: exact anti-join vs seen — broadcast, or only
        #    the store's maybe-seen rows when the probe ran above
        seen = self.seen()
        new = fr.dedup_against_seen(
            self.spark, cand, seen,
            expected_seen=(seen_meta or {}).get("meta", {}).get("total"),
        )
        # robots last: its verdict depends only on (host, canon_url), so
        # filtering after both dedups keeps the same rows and matches each
        # candidate URL once, not once per duplicate or already-seen hit.
        # The fence makes the range partitioning's sample below read these
        # rows instead of re-running the canonicalize kernel.
        if self.robots is not None:
            new = fr.apply_robots(new, self.robots)
        new = new.localCheckpoint(eager=True)

        # 5. dense numbering in (parent_seq, pos) order. The high-water
        #    seq rides every frontier manifest (a resumed engine reads it
        #    too), and n_new falls out of the numbering's offset map — no
        #    count() pass.
        max_seq = prev_meta.get("max_seq")
        if max_seq is None:  # a store written before the field
            max_seq = self._scan_max_seq(frontier)
        new, n_new = assign_global_seq(
            new, ["parent_seq", "pos"], start=max_seq + 1, return_count=True
        )
        new_rows = new.select(
            "canon_url", "url_hash", "bucket", "host",
            F.lit(wave).alias("priority"), "seq",
            F.lit(wave).alias("wave"), F.lit("pending").alias("status"),
        ).localCheckpoint(eager=True)

        # 6. commit snapshots: frontier (MERGE delta: only the status flips
        #    of scheduled rows + newly discovered rows — O(scheduled + new)
        #    per wave, never a full-frontier rewrite), seen/order/metrics/
        #    lineage (append). The reader reconciles last-writer-wins on
        #    url_hash; periodic compaction bounds the delta chain. The
        #    fetched fence gives each scheduled row its fetch status, which
        #    both the frontier delta and the order log carry.
        outcome = fetched.select(
            *FRONTIER_COLS[:-1],
            F.when(F.col("page_url").isNotNull(), "fetched").otherwise("missing").alias("status"),
        )
        frontier_delta = outcome.select(*FRONTIER_COLS).unionByName(
            new_rows.select(*FRONTIER_COLS)
        )
        # pending-before comes from the previous frontier commit's meta
        # (bootstrap and every merge write it) — no frontier re-scan; the
        # count() fallback only fires on stores written before this field.
        pending_before = prev_meta.get("pending")
        if pending_before is None:
            pending_before = pending.count()
        n_pending_next = n_new + (pending_before - n_scheduled)
        self._update_hot_backlog(new_rows, n_new)
        frontier_meta = {
            "pending": n_pending_next, "delta_rows": n_scheduled + n_new,
            "max_seq": max_seq + n_new, "hot_backlog": self._hot_backlog,
        }
        self.store.commit(
            "frontier", frontier_delta, mode="merge", wave=wave,
            meta=frontier_meta, merge_key=["url_hash"],
        )
        if self.compact_every and wave % self.compact_every == 0:
            if self.store.compact("frontier") is not None:
                # reclaim the folded pre-base history (Iceberg
                # expire-snapshots): without this, a long crawl's frontier
                # storage grows by a full table copy per compaction
                self.store.expire_snapshots("frontier")
        seen_total = ((seen_meta or {}).get("meta", {}).get("total") or 0) + n_new
        if self._seen_store is not None and n_new:
            self._store_merge(new_rows.select("url_hash"))
        self._commit_seen(
            new_rows.select("url_hash", "canon_url", "bucket", "wave"),
            "append", wave, {"added": n_new, "total": seen_total},
        )
        if self.compact_seen_every and wave % self.compact_seen_every == 0:
            # the compacted base copies the store descriptor with the meta
            if self.store.compact("seen") is not None:
                self.store.expire_snapshots("seen")
        self.store.commit(
            "order",
            outcome.select(F.lit(wave).alias("wave"), "seq", "host", "canon_url", "status"),
            mode="append", wave=wave, meta={"scheduled": n_scheduled},
        )
        metrics = {
            "wave": wave, "scheduled": n_scheduled, "fetched": n_fetched,
            "missing": n_scheduled - n_fetched, "new_urls": n_new,
            "pending_next": n_pending_next, "done": n_pending_next == 0,
        }
        # one row built on the JVM: a createDataFrame from a Python list
        # would run a Python task per default partition to write one row
        self.store.commit(
            "metrics",
            self.spark.range(1, numPartitions=1).select(
                F.lit(wave).cast("int").alias("wave"),
                F.lit(n_scheduled).cast("long").alias("scheduled"),
                F.lit(n_fetched).cast("long").alias("fetched"),
                F.lit(n_new).cast("long").alias("new_urls"),
                F.lit(n_pending_next).cast("long").alias("pending_next"),
            ),
            mode="append", wave=wave,
        )
        # per-partition lineage (north rule): which fetch shard (politeness
        # salt) scheduled how much, and which url_hash bucket admitted how
        # many new URLs — the partition-level audit trail a 1000-executor
        # run needs to localize skew/dedup anomalies per wave.
        fetch_lineage = scheduled.groupBy("salt").agg(
            F.count("*").alias("n"), F.countDistinct("host").alias("n_hosts")
        ).select(
            F.lit(wave).alias("wave"), F.lit("fetch_salt").alias("kind"),
            F.col("salt").cast("int").alias("key"), "n", "n_hosts",
        )
        dedup_lineage = new_rows.groupBy("bucket").agg(
            F.count("*").alias("n")
        ).select(
            F.lit(wave).alias("wave"), F.lit("dedup_bucket").alias("kind"),
            F.col("bucket").cast("int").alias("key"), "n",
            F.lit(None).cast("long").alias("n_hosts"),
        )
        self.store.commit(
            "lineage", fetch_lineage.unionByName(dedup_lineage),
            mode="append", wave=wave,
        )
        return metrics

    @staticmethod
    def _scan_max_seq(frontier: DataFrame) -> int:
        """Highest seq in the frontier: a full scan, only for stores whose
        frontier manifests predate the ``max_seq`` meta field."""
        return frontier.agg(F.max("seq")).collect()[0][0] or 0

    # -------------------------------------------------------------- run ----
    def _reconcile_crash_window(self) -> int:
        """Heal the non-atomic multi-table commit window on resume.

        A wave commits frontier (merge) BEFORE seen (append); a crash
        between the two leaves wave W's newly discovered URLs pending in
        the frontier but absent from seen — on resume they would be
        scheduled AND re-admittable via links as "new" with fresh seqs
        (double-numbered, double-fetched). The invariant to restore is
        ``pending frontier rows ⊆ seen`` (every URL enters the frontier
        only when admitted into seen; ``retract(requeue=False)`` removes
        non-pending rows only). Detection is O(1): the wave recorded by
        the latest frontier manifest is ahead of the latest seen
        manifest's exactly and only inside this window (every clean wave,
        bootstrap, compaction, and both retract paths leave them equal).
        The heal appends the missing pending keys to seen and merges them
        into the store: the store this engine opened is the generation the
        latest seen snapshot names, so it holds none of them (a crash
        after the wave's own store merge left only files no committed
        generation names), and the heal commit names the new generation.
        Audit tables (order/metrics/lineage) committed after seen
        may still miss wave W's rows; they are observability, not inputs,
        so a gap there cannot corrupt the crawl.
        """
        f_latest = self.store.latest("frontier")
        if f_latest is None:
            return 0
        s_latest = self.store.latest("seen")
        if s_latest is not None and s_latest["wave"] >= f_latest["wave"]:
            return 0
        frontier = self.frontier()
        missing = frontier.filter(F.col("status") == "pending").select(
            "url_hash", "canon_url", "bucket", "wave"
        )
        seen = self.seen()
        if seen is not None:
            missing = missing.join(seen.select("url_hash"), "url_hash", "left_anti")
        missing = missing.persist()
        n = missing.count()
        if n and self._seen_store is not None:
            self._store_merge(missing.select("url_hash"))
        # commit even when n == 0 so seen's wave catches up — otherwise a
        # crashed zero-discovery wave would re-trigger this scan on every
        # resume forever
        prev_total = (s_latest or {}).get("meta", {}).get("total") or 0
        self._commit_seen(
            missing, "append", f_latest["wave"],
            {"added": n, "total": prev_total + n, "healed": True},
        )
        missing.unpersist()
        return n

    def run(self, seeds: DataFrame | None = None, max_waves: int = 10) -> list[dict]:
        """Run (or resume) the crawl. If the store has committed state the
        seed bootstrap is skipped and the loop continues from the last
        committed wave — the resume contract (including the crash-window
        heal: a run killed between a wave's frontier and seen commits
        resumes without double-numbering its discovered URLs). Resume
        with a new engine: one whose wave raised may hold a store
        generation ahead of the committed seen set."""
        if self.last_wave() is None:
            assert seeds is not None, "first run needs a seed list"
            self.bootstrap(seeds)
        else:
            self._reconcile_crash_window()
        out = []
        start = (self.last_wave() or 0) + 1
        for wave in range(start, start + max_waves):
            m = self.run_wave(wave)
            out.append(m)
            if m.get("done"):
                break
        return out
