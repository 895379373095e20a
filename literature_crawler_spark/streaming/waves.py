"""Structured Streaming front-end for the crawl engine.

The reference is batch-with-checkpoint (SURVEY.md §1.4) — there are no
event-time semantics to preserve — so streaming here is an ingestion
wrapper: a stream of newly discovered seed URLs is folded into the frontier
via ``foreachBatch``, where each micro-batch runs the same deterministic
batch kernel (canonicalize -> robots -> dedup-vs-seen -> snapshot commit)
as the wave loop. This keeps one code path for correctness while letting a
deployment trickle-feed seeds from a queue/directory instead of a frozen
seed list.

Also provides a windowed per-host rate monitor — the streaming analogue of
the reference's Redis success/fail counters (``task_service.py:66-78``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.plans.state import SnapshotStore


def seed_ingest_stream(
    stream_df: DataFrame,
    store: SnapshotStore,
    robots: DataFrame | None,
    checkpoint_dir: str,
    url_col: str = "url",
):
    """Fold a streaming DataFrame of raw URLs into the ``frontier``/``seen``
    state via foreachBatch. Returns the StreamingQuery (caller awaits it).

    Each micro-batch is idempotent under replay: batch rows already in
    ``seen`` are dropped by the anti-join, so at-least-once delivery from
    the source still yields exactly-once frontier membership.
    """
    spark = stream_df.sparkSession

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cand = fr.canonicalize_candidates(
            batch_df.select(F.col(url_col).alias("url"), F.lit(int(batch_id)).alias("seed_seq"))
        )
        if robots is not None:
            cand = fr.apply_robots(cand, robots)
        cand = fr.first_seen_dedup(cand, ["seed_seq"])
        seen = store.read(spark, "seen")
        new = fr.dedup_against_seen(spark, cand, seen)
        frontier = store.read(spark, "frontier")
        # the totals the wave loop reads from the manifests; the scans
        # only run on a store written before the fields
        f_meta = (store.latest("frontier") or {}).get("meta", {})
        s_meta = (store.latest("seen") or {}).get("meta", {})
        start, pending, total = 0, f_meta.get("pending"), s_meta.get("total")
        if frontier is not None:
            prev_max = f_meta.get("max_seq")
            if prev_max is None:
                prev_max = frontier.agg(F.max("seq")).collect()[0][0] or 0
            start = prev_max + 1
            if pending is None:
                pending = frontier.filter(F.col("status") == "pending").count()
        if total is None:
            total = 0 if seen is None else seen.count()
        rows = new.select(
            "canon_url", "url_hash", "bucket", "host",
            F.lit(0).alias("priority"),
            (F.lit(start) + F.monotonically_increasing_id()).alias("seq"),
            F.lit(-1).alias("wave"), F.lit("pending").alias("status"),
        ).persist()  # count + 2 commits below read ONE materialization
        try:
            n, max_seq = rows.agg(F.count("*"), F.max("seq")).collect()[0]
            if n == 0:
                return
            # MERGE delta (new rows only) — the streaming twin of the wave
            # loop's O(scheduled + new) commits; no full-frontier rewrite
            store.commit(
                "frontier", rows, mode="merge", wave=-1,
                meta={
                    "stream_batch": batch_id, "delta_rows": n,
                    "pending": (pending or 0) + n, "max_seq": max_seq,
                },
                merge_key=["url_hash"],
            )
            store.commit(
                "seen", rows.select("url_hash", "canon_url", "bucket", "wave"),
                mode="append", wave=-1, meta={"added": n, "total": total + n},
            )
        finally:
            rows.unpersist()

    return (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def politeness_rate_limiter(
    candidates_stream: DataFrame,
    budget_per_batch: int = 10,
    host_col: str = "host",
    url_col: str = "canon_url",
    carryover_cap: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator: per-host token-bucket admission
    across micro-batches via ``applyInPandasWithState``.

    The reference's politeness is a serial loop with sleeps (SURVEY §2.8);
    the batch engine turns that into per-wave window quotas
    (operators/politeness.py). This is the streaming third form: each host
    holds a token bucket refilled by ``budget_per_batch`` per micro-batch
    it appears in; a host that under-uses its tokens banks the remainder
    and may burst later, so a single batch can admit UP TO
    ``carryover_cap`` rows (default 2x budget) — standard token-bucket
    semantics: long-run admission rate is bounded by budget_per_batch per
    batch, with bounded bursts from banked idle capacity. A flooding host
    with no banked tokens stays at its per-batch budget, because admission
    state persists in the state store across batches (exactly the thing a
    stateless per-batch window rank cannot enforce).
    A host first seen in batch k starts with one budget (conservative).
    Emits the admitted rows as (host, url, admitted_in_batch_rank).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    cap = carryover_cap if carryover_cap is not None else 2 * budget_per_batch

    def limiter(key, pdfs, state):
        (host,) = key
        (tokens,) = state.get if state.exists else (budget_per_batch,)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(url_col, kind="mergesort")
        admit = min(int(tokens), len(rows))
        out = rows.iloc[:admit][[url_col]].copy()
        out.insert(0, "host", host)
        out["admitted_rank"] = range(1, admit + 1)
        # refill AFTER spending: next batch sees leftover + one budget,
        # capped so idle hosts cannot hoard unbounded burst
        state.update((min(int(tokens) - admit + budget_per_batch, cap),))
        yield out

    return candidates_stream.groupBy(host_col).applyInPandasWithState(
        limiter,
        outputStructType=f"host string, {url_col} string, admitted_rank int",
        stateStructType="tokens int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def host_rate_monitor(events_stream: DataFrame, window: str = "10 seconds") -> DataFrame:
    """Windowed per-host fetch-rate aggregation with a watermark — the
    politeness observability stream (counts per host per window)."""
    return (
        events_stream.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", window).alias("w"), "host")
        .agg(F.count("*").alias("n_fetches"))
        .select(F.col("w.start").alias("window_start"), "host", "n_fetches")
    )
