"""Memory-bandwidth saturation microprobe (VERDICT r02 task 5).

Question: is the frontier kernel's 8 -> 32 efficiency drop a plan defect
(something serializes) or the box (one socket, one NUMA node, shared
memory controllers)? Answer it by scaling four SYNTHETIC kernels — each
isolating one resource, none sharing any engine code path — across
local[8] -> local[32] in sequential subprocess JVMs:

* arith — sum(xxhash64(id)) over spark.range: pure whole-stage-codegen
  register arithmetic, ~zero memory traffic. If the box scaled, this is
  the kernel that proves it.
* stralloc — sum(length(url-shaped concat)): the allocation/copy profile
  of URL canonicalization with NO Python, NO shuffle, NO engine code —
  pure JVM string-byte traffic.
* arrow — mapInPandas identity over (id, url): the Arrow
  serialize/deserialize boundary in isolation.
* shuffle — groupBy(id %% 1M).count(): hash-shuffle exchange in
  isolation.

A plan defect would show ONE engine-specific shape collapsing while
synthetic twins scale; bandwidth saturation shows every memory-touching
kernel decaying together while arith holds. The probe also measures the
frontier kernel's actual shuffle volume per URL (UI REST, stage-summed
shuffle read+write) — the number that sizes cluster network for the
10^10-URL deploy.

Writes /tmp/lcs_saturation_probe.json (picked up by scaling_bench.py's
BENCH.md render). Usage: python scripts/saturation_probe.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = "/tmp/lcs_saturation_probe.json"

_PROBE = r'''
import sys, time
sys.path.insert(0, "%s")
from pyspark.sql import functions as F
from literature_crawler_spark.session import get_spark

cpus = int(sys.argv[1]); kernel = sys.argv[2]
spark = get_spark("probe", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)

def mk(kernel):
    # sizes chosen so the 8-core leg runs ~5-15s — far above this box's
    # ~0.3-0.5s/stage dispatch overhead, which otherwise IS the measurement
    if kernel == "arith":
        n = 20_000_000_000
        # %% 1024 keeps the ANSI-mode sum within long range; the xxhash64
        # itself is still the dominant per-row cost
        df = spark.range(n).select(F.sum(F.xxhash64("id") %% 1024))
    elif kernel == "stralloc":
        n = 1_500_000_000
        url = F.concat(F.lit("https://h"), (F.col("id") %% 1000).cast("string"),
                       F.lit(".example.org/page/"), F.col("id").cast("string"),
                       F.when(F.col("id") %% 4 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")))
        # hashing the built string forces its bytes to materialize (a bare
        # length() could be escape-analyzed past the copy); %% 2 keeps the
        # ANSI sum in range
        df = spark.range(n).select(F.sum(F.length(url) + F.xxhash64(url) %% 2))
    elif kernel == "arrow":
        n = 120_000_000
        url = F.concat(F.lit("https://h"), (F.col("id") %% 1000).cast("string"),
                       F.lit(".example.org/page/"), F.col("id").cast("string"))
        base = spark.range(n).select("id", url.alias("url"))
        df = base.mapInPandas(lambda it: it, "id long, url string").select(F.sum(F.length("url")))
    elif kernel == "shuffle":
        n = 1_500_000_000
        df = spark.range(n).groupBy((F.col("id") %% 1_000_000).alias("k")).count() \
                 .select(F.sum("count"))
    return n, df

def run():
    # noop WRITE, not collect: a repeated collect() on one DataFrame reuses
    # its AQE-materialized shuffle stages (measured: a 40B-row aggregate
    # "re-ran" in 0.07s), silently timing only the final stage. write()
    # re-plans per call, so every rep executes the full pipeline.
    n, df = mk(kernel)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0

n, _ = mk(kernel)
run()  # full-size JIT warmup
best = min(run() for _ in range(2))
print("RESULT", kernel, cpus, n, round(best, 3), round(n / best))
spark.stop()
''' % REPO

_SHUFFLE_VOL = r'''
import sys, time, json, urllib.request
sys.path.insert(0, "%s")
from pyspark.sql import functions as F
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.session import get_spark

n_urls = 8_000_000; n_hosts = 1000
spark = get_spark("shufvol", master="local[8]", shuffle_partitions=16,
                  extra_conf={"spark.ui.enabled": "true"})

def urls(ids):
    host = F.when(F.col("id") %% 10 == 0, F.lit(0)).otherwise(F.col("id") %% n_hosts)
    return ids.select(F.col("id"), F.concat(
        F.lit("https://h"), host.cast("string"), F.lit(".example.org/page/"),
        F.col("id").cast("string"),
        F.when(F.col("id") %% 4 == 0, F.lit("?utm_source=x")).otherwise(F.lit(""))).alias("url"))

seen = fr.canonicalize_candidates(urls(spark.range(0, n_urls, 3)), output_cols=[]).select("url_hash").persist()
seen_n = seen.count()
cand = fr.canonicalize_candidates(urls(spark.range(n_urls)), output_cols=["id"])
new = fr.dedup_against_seen(spark, cand, seen, expected_seen=seen_n)
pending = new.select("canon_url", "url_hash", "host", F.lit(0).alias("priority"), F.col("id").alias("seq"))
sched = pol.schedule_wave(pending, politeness=None, default_budget=1000)
sched.write.format("noop").mode("overwrite").save()

app_id = spark.sparkContext.applicationId
base = "http://localhost:4040/api/v1/applications/" + app_id + "/stages"
stages = json.load(urllib.request.urlopen(base))
sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
sr = sum(s.get("shuffleReadBytes", 0) for s in stages)
inp = sum(s.get("inputBytes", 0) for s in stages)
print("SHUFVOL", json.dumps({
    "n_urls": n_urls, "seen_size": seen_n,
    "shuffle_write_bytes": sw, "shuffle_read_bytes": sr, "input_bytes": inp,
    "shuffle_write_bytes_per_url": round(sw / n_urls, 2),
    "shuffle_read_bytes_per_url": round(sr / n_urls, 2),
}))
spark.stop()
''' % REPO


def _steal_ticks() -> int:
    """Cumulative hypervisor steal ticks — the sandbox host has steal
    storms; a leg bracketed by a big delta is re-run, not trusted."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def run_probe(cpus: int, kernel: str) -> dict:
    gc = max(2, min(cpus, 8))
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-XX:ParallelGCThreads={gc} -XX:ConcGCThreads={max(gc // 4, 1)}"
        ),
    )
    for attempt in range(3):
        s0 = _steal_ticks()
        out = subprocess.run(
            [sys.executable, "-c", _PROBE, str(cpus), kernel],
            env=env, capture_output=True, text=True, check=True, cwd=REPO,
        )
        steal_sec = (_steal_ticks() - s0) / 100.0
        if steal_sec < 30.0 or attempt == 2:  # < ~1 core-minute of interference
            break
        print(f"  retry {kernel}@{cpus}: {steal_sec:.0f}s steal during leg", flush=True)
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")][0].split()
    return {"kernel": line[1], "cpus": int(line[2]), "n": int(line[3]),
            "sec": float(line[4]), "rate": int(line[5]),
            "steal_cpu_sec": round(steal_sec, 1)}


def main() -> None:
    kernels = ["arith", "stralloc", "arrow", "shuffle"]
    rows = {}
    for k in kernels:
        legs = {c: run_probe(c, k) for c in (8, 32)}
        rows[k] = {
            "rate_8": legs[8]["rate"],
            "rate_32": legs[32]["rate"],
            "efficiency_8_to_32": round(legs[32]["rate"] / (4 * legs[8]["rate"]), 3),
        }
        print(k, rows[k], flush=True)
    out = subprocess.run(
        [sys.executable, "-c", _SHUFFLE_VOL], capture_output=True, text=True,
        check=True, cwd=REPO,
    )
    vol_line = [l for l in out.stdout.splitlines() if l.startswith("SHUFVOL")][0]
    vol = json.loads(vol_line[len("SHUFVOL "):])
    print("shuffle volume:", vol, flush=True)
    with open(CACHE, "w") as f:
        json.dump({"kernels": rows, "frontier_shuffle_volume": vol}, f)
    print("wrote", CACHE)


if __name__ == "__main__":
    main()
