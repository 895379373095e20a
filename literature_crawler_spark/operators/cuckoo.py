"""Bucketed cuckoo-filter URL-seen store: the engine's one maintained
membership structure (the north rule names "bloom/cuckoo" as the two
admissible seen-set structures).

Why cuckoo: a Bloom bitmap can only ever grow, so retracting a URL from
the seen set (recrawl-after-expiry — the reference re-enters a protocol
when its ``version_id`` changes, ``protocol_io_crawl.py``'s update path
— or un-committing a failed wave) would force a full rebuild. A cuckoo
filter (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014 — public) supports O(1) delete of previously-inserted keys at
comparable space and a LOWER false-positive rate, so the seen store
follows the seen table's MERGE deltas in both directions.

Layout: one file per ``pmod(url_hash, n_buckets)`` bucket and generation,
executor-side single-writer merge, lazy process-cache probe. A merge or
delete writes new files for the buckets it touches and never rewrites
one; the store's descriptor (table size, generation, bucket -> generation
map) names the live files. ``CrawlEngine`` commits the descriptor in each
seen snapshot's manifest, so the store a resumed engine adopts is exactly
the generation of the seen set it resumes from. ``CrawlEngine`` fuses
``probe_np`` into the canonicalize kernel
(``frontier.canonicalize_candidates(probe_store=...)``), and
``frontier.dedup_against_seen`` sends only the maybe-seen rows through
the exact anti-join.

Per-bucket file format: a uint16 array of shape (m, SLOTS) where 0 =
empty slot. The two candidate rows for hash h are

    i1 = high-mixed(h) mod m
    i2 = i1 XOR mix(fingerprint) mod m      (partial-key cuckooing)

so relocation needs only the stored fingerprint, never the key. m is a
power of two; fingerprints are 16-bit (0 remaps to 1 so 0 can mean
"empty"), giving FPR ~ 2*SLOTS/2^16 ~ 0.02% per probe — ~50x below a Bloom
filter at the usual fpp=0.01.

Resize contract: tables are sized at ``create(expected_items)``.
Fingerprints cannot recover their keys, so a bucket that overflows CANNOT
grow in place without dropping keys (a dropped key = false negative =
re-crawled duplicate). Overflow therefore surfaces as ``CuckooOverflow``
on the driver with the descriptor unchanged, and the owner (CrawlEngine
holds the authoritative committed ``seen`` table) rebuilds:
``create(root, 2x)`` + ``merge(seen ∪ delta)``. The rebuild is a new
generation of every bucket; the old generation stays live until the
owner commits the new descriptor. This is the standard production answer
to cuckoo resize — rebuild from source.

Deletion caveat (inherent, same as counting Bloom): deleting a key that
was never inserted can evict another key's identical fingerprint and
create a false negative. The engine only ever deletes keys read back
from the committed ``seen`` table, and each of those was inserted exactly
once into the generation that seen snapshot names.
"""

from __future__ import annotations

import os
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLOTS = 4  # slots per table row (the paper's b=4 sweet spot)
MAX_KICKS = 500
MAX_LOAD = 0.95  # the paper's achievable load at b=4

_MIX1 = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xC2B2AE3D27D4EB4F)
_FP_MIX = np.uint64(0x5BD1E9955BD1E995)


class CuckooOverflow(RuntimeError):
    """A bucket exceeded its capacity; rebuild from the authoritative key
    set: ``BucketedCuckooStore.create(root, 2 * expected)`` then
    ``merge(all_keys)``. Raised on the DRIVER after the merge action."""


def _fingerprints(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from 64-bit hashes (high bits of a
    multiplicative mix; 0 remaps to 1 so 0 can mean 'empty slot')."""
    f = ((h.astype(np.int64).view(np.uint64) * _MIX1) >> np.uint64(48)).astype(np.uint16)
    f[f == 0] = 1
    return f


def _index1(h: np.ndarray, m: int) -> np.ndarray:
    return (
        ((h.astype(np.int64).view(np.uint64) * _MIX2) >> np.uint64(32))
        % np.uint64(m)
    ).astype(np.int64)


def _alt_index(i: np.ndarray, f: np.ndarray, m: int) -> np.ndarray:
    """Partial-key alternate row: i XOR mix(f), mod power-of-two m (the
    XOR-then-mask form keeps i1/i2 a symmetric pair: alt(alt(i)) == i)."""
    return (
        (i.astype(np.uint64) ^ ((f.astype(np.uint64) * _FP_MIX) >> np.uint64(32)))
        % np.uint64(m)
    ).astype(np.int64)


def rows_for(n_keys: int) -> int:
    """Power-of-two row count for n_keys at MAX_LOAD and SLOTS per row."""
    rows = max(4, int(n_keys / (SLOTS * MAX_LOAD)) + 1)
    return 1 << (rows - 1).bit_length()


class _Table:
    """In-memory (m, SLOTS) uint16 cuckoo table for ONE bucket file."""

    def __init__(self, arr: np.ndarray) -> None:
        self.arr = arr  # shape (m, SLOTS)

    @property
    def m(self) -> int:
        return self.arr.shape[0]

    def _try_place(self, row: int, f: int) -> bool:
        slots = self.arr[row]
        empty = np.flatnonzero(slots == 0)
        if len(empty):
            slots[empty[0]] = f
            return True
        return False

    def insert_one(self, i1: int, f: int) -> bool:
        i2 = int(_alt_index(np.array([i1]), np.array([f], dtype=np.uint16), self.m)[0])
        if self._try_place(i1, f) or self._try_place(i2, f):
            return True
        # eviction walk; deterministic victim choice keeps runs reproducible
        row, fp = i2, f
        for kick in range(MAX_KICKS):
            victim_slot = kick % SLOTS
            fp, self.arr[row, victim_slot] = int(self.arr[row, victim_slot]), int(fp)
            row = int(
                _alt_index(np.array([row]), np.array([fp], dtype=np.uint16), self.m)[0]
            )
            if self._try_place(row, fp):
                return True
        return False

    def insert_batch(self, h: np.ndarray) -> int:
        """Insert hashes until the first placement failure; returns 0 on
        full success, nonzero on overflow. The caller discards the file
        and rebuilds bigger on ANY overflow, so continuing past the
        first failure is pure waste — and pathological: every insert
        into a full table walks MAX_KICKS evictions, so a badly
        undersized bucket would burn minutes before reporting what the
        first failure already proved."""
        f = _fingerprints(h)
        i1 = _index1(h, self.m)
        for j in range(len(h)):
            if not self.insert_one(int(i1[j]), int(f[j])):
                return len(h) - j
        return 0

    def contains(self, h: np.ndarray) -> np.ndarray:
        if len(h) == 0:
            return np.zeros(0, dtype=bool)
        f = _fingerprints(h)
        i1 = _index1(h, self.m)
        i2 = _alt_index(i1, f, self.m)
        hit1 = (self.arr[i1] == f[:, None]).any(axis=1)
        hit2 = (self.arr[i2] == f[:, None]).any(axis=1)
        return hit1 | hit2

    def delete_batch(self, h: np.ndarray) -> int:
        """Remove ONE stored copy per requested key (keys must have been
        inserted). Returns how many were found and removed."""
        removed = 0
        f = _fingerprints(h)
        i1 = _index1(h, self.m)
        i2 = _alt_index(i1, f, self.m)
        for j in range(len(h)):
            for row in (int(i1[j]), int(i2[j])):
                slots = self.arr[row]
                hit = np.flatnonzero(slots == f[j])
                if len(hit):
                    slots[hit[0]] = 0
                    removed += 1
                    break
        return removed


# Process-local probe cache: bucket stem -> (generation file, table). A
# generation file is written once and never rewritten (see
# BucketedCuckooStore), so its path alone identifies its contents; one
# entry per bucket keeps only the generation probed last.
_TABLE_CACHE: dict[str, tuple[str, np.ndarray]] = {}
_TABLE_CACHE_CAP = 256


def _load_table(path: str) -> np.ndarray:
    stem = path.rsplit(".g", 1)[0]
    hit = _TABLE_CACHE.get(stem)
    if hit is not None and hit[0] == path:
        return hit[1]
    arr = np.fromfile(path, dtype=np.uint16).reshape(-1, SLOTS)
    _TABLE_CACHE.pop(stem, None)
    while len(_TABLE_CACHE) >= _TABLE_CACHE_CAP:
        del _TABLE_CACHE[next(iter(_TABLE_CACHE))]
    _TABLE_CACHE[stem] = (path, arr)
    return arr


def _gen_path(root: str, bucket: int, gen: int) -> str:
    return os.path.join(root, f"b{bucket:05d}.g{gen:06d}.cuckoo")


def _write_table(arr: np.ndarray, path: str) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    arr.tofile(tmp)
    os.replace(tmp, path)


class BucketedCuckooStore:
    """One cuckoo-filter FILE per ``pmod(url_hash, n_buckets)`` bucket and
    generation, described by a small JSON-ready descriptor.

    ``merge`` and ``delete`` never rewrite a file: each bucket they touch
    is read from the current generation and written as a new file
    ``b{bucket:05d}.g{gen:06d}.cuckoo``; the instance's descriptor then
    names the new generation. The owner commits the descriptor with the
    key set it describes (``CrawlEngine`` puts it in each seen manifest)
    and resumes by adopting it, so a crash between a merge and that
    commit leaves only unnamed files, and a retried fold rewrites its own
    new file from the same immutable parent. Tables are built and probed
    on executors; the driver only ever sees per-bucket counts.
    """

    def __init__(
        self, root: str, n_buckets: int, bucket_rows: int,
        gen: int = 0, files: dict[int, int] | None = None,
    ) -> None:
        os.makedirs(root, exist_ok=True)
        self.root = root
        self.n_buckets = n_buckets
        self.bucket_rows = bucket_rows
        self.gen = gen
        self.files = dict(files or {})  # bucket -> generation of its file

    # ------------------------------------------------------- lifecycle ----
    @classmethod
    def create(
        cls, root: str, expected_items: int, n_buckets: int = 64
    ) -> "BucketedCuckooStore":
        """An empty store sized for expected_items/n_buckets keys a bucket."""
        return cls(root, n_buckets, rows_for(max(expected_items // n_buckets, 1)))

    @classmethod
    def adopt(cls, root: str, descriptor: dict) -> "BucketedCuckooStore":
        """The store a committed ``descriptor`` names."""
        d = descriptor
        files = {int(b): g for b, g in d["files"].items()}
        return cls(root, d["n_buckets"], d["bucket_rows"], d["gen"], files)

    def descriptor(self) -> dict:
        return {
            "n_buckets": self.n_buckets,
            "bucket_rows": self.bucket_rows,
            "gen": self.gen,
            "files": {str(b): g for b, g in sorted(self.files.items())},
        }

    def paths(self) -> dict[int, str]:
        """bucket -> table file of the current generation."""
        return {b: _gen_path(self.root, b, g) for b, g in self.files.items()}

    def drop_unnamed(self) -> None:
        """Delete every file under root that the current generation does
        not name (superseded generations, leftovers of a crashed write)."""
        named = {os.path.basename(p) for p in self.paths().values()}
        for name in os.listdir(self.root):
            if name not in named:
                os.remove(os.path.join(self.root, name))

    # ----------------------------------------------------------- merge ----
    def merge(self, df: DataFrame, hash_col: str = "url_hash") -> dict[int, int]:
        """Insert a delta of hash keys as a new generation.

        One shuffle of keys on the bucket id; each bucket group inserts
        into a copy of its current table IN THE EXECUTOR TASK and writes
        the next generation's file. An overflowing bucket writes nothing
        and reports failure; the driver then raises ``CuckooOverflow``
        without advancing the descriptor, so the owner rebuilds from the
        authoritative key set (see module docstring) — committing a
        partial table would silently drop keys, i.e. manufacture false
        negatives.
        """
        root, bucket_rows = self.root, self.bucket_rows
        gen, parents = self._next_gen(), self.paths()

        def fold(key, pdf):
            b = int(key[0])
            h = pdf[hash_col].to_numpy()
            if b in parents:
                table = _Table(_load_table(parents[b]).copy())
            else:
                table = _Table(np.zeros((bucket_rows, SLOTS), dtype=np.uint16))
            failed = table.insert_batch(h)
            if failed == 0:
                _write_table(table.arr, _gen_path(root, b, gen))
            return pd.DataFrame(
                {"bucket": [b], "n_keys": [len(h)], "n_failed": [failed]}
            )

        rows = self._fold_by_bucket(
            df, hash_col, fold, out="bucket int, n_keys long, n_failed long"
        )
        overflowed = [r["bucket"] for r in rows if r["n_failed"]]
        if overflowed:
            raise CuckooOverflow(
                f"buckets {overflowed} over capacity "
                f"({self.bucket_rows} rows x {SLOTS} slots); rebuild: "
                f"create(root, 2x expected) + merge(full key set)"
            )
        self._advance(gen, [r["bucket"] for r in rows])
        return {r["bucket"]: r["n_keys"] for r in rows}

    def delete(self, df: DataFrame, hash_col: str = "url_hash") -> dict[int, int]:
        """Remove previously-inserted keys (the retract path) as a new
        generation. Same one-task-per-bucket shape as merge; a bucket
        without a file holds no keys, so it writes nothing."""
        root, gen, parents = self.root, self._next_gen(), self.paths()

        def fold(key, pdf):
            b = int(key[0])
            h = pdf[hash_col].to_numpy()
            removed = 0
            if b in parents and len(h):
                table = _Table(_load_table(parents[b]).copy())
                removed = table.delete_batch(h)
                _write_table(table.arr, _gen_path(root, b, gen))
            return pd.DataFrame({"bucket": [b], "n_removed": [removed]})

        rows = self._fold_by_bucket(
            df, hash_col, fold, out="bucket int, n_removed long"
        )
        self._advance(gen, [r["bucket"] for r in rows if r["bucket"] in parents])
        return {r["bucket"]: r["n_removed"] for r in rows}

    def _next_gen(self) -> int:
        """One past every generation under root, a crashed writer's files
        included, so no write reuses a path: the probe cache keys on it."""
        names = [n for n in os.listdir(self.root) if n.startswith("b") and ".g" in n]
        return 1 + max([self.gen] + [int(n.split(".g", 1)[1][:6]) for n in names])

    def _advance(self, gen: int, buckets: list[int]) -> None:
        if buckets:
            self.gen = gen
            self.files.update((b, gen) for b in buckets)

    def _fold_by_bucket(
        self, df: DataFrame, hash_col: str, fold, out: str
    ) -> list[Any]:
        keyed = df.select(
            F.pmod(F.col(hash_col), F.lit(self.n_buckets)).cast("int").alias("_cb"),
            F.col(hash_col),
        )
        return keyed.groupBy("_cb").applyInPandas(fold, out).collect()

    # ----------------------------------------------------------- probe ----
    def probe_np(self, hn: np.ndarray) -> np.ndarray:
        """Vectorized membership test of an int64 hash array, called
        in-process by the fused canonicalize kernel
        (``frontier.canonicalize_candidates(probe_store=...)``) to avoid a
        second Arrow crossing. One table lookup per distinct bucket; a
        bucket the generation names no file for holds no keys, so
        definitely not contained. The instance is picklable (root, ints
        and the bucket -> generation map), so it ships inside UDF
        closures; tables load lazily through the process cache."""
        out = np.zeros(len(hn), dtype=bool)
        if len(hn) == 0:
            return out
        paths = self.paths()
        buckets = np.mod(hn.astype(np.int64), self.n_buckets)  # == Spark pmod
        for b in np.unique(buckets):
            path = paths.get(int(b))
            if path is not None:
                mask = buckets == b
                out[mask] = _Table(_load_table(path)).contains(hn[mask])
        return out
