"""Steal-gated north-rule kernel scaling measurement.

The full sweep (scaling_bench.py) runs ~15-minute bench legs; on this
sandbox host, hypervisor steal storms land inside individual legs and
poison min-of-reps (one contaminated sweep recorded the 8-core at-scale
kernel at 1/4 of its clean rate). This script measures ONLY the frontier
kernel — small-seen and at-scale (seen = 2x candidates, past the
broadcast ceiling, maintained cuckoo store) — at local[2] /
local[8] / local[32], bracketing every timed rep with the /proc/stat
steal counter and RERUNNING any rep whose window saw > STEAL_CAP of one
core stolen. Legs are sequential subprocess JVMs, GC sized per leg.

Writes /tmp/lcs_north_pair.json (rendered into BENCH.md by
scaling_bench.py --reuse-sweep). Usage: python scripts/north_pair.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = "/tmp/lcs_north_pair.json"

# Shared leg prologue: session + synthetic frontier + maintained store +
# the ONE measured kernel (run_once) + per-leg calibration. Both leg
# flavors (batch driver below, interleaved pair server further down) are
# this prologue plus a different rep-driver suffix — the kernel exists
# exactly once, so a kernel change cannot silently diverge between the
# sequential and paired measurements.
_COMMON = r'''
import sys, time
sys.path.insert(0, "%s")
from pyspark.sql import functions as F
from literature_crawler_spark.operators import cuckoo as cuckoo_mod
from literature_crawler_spark.operators import frontier as fr
from literature_crawler_spark.operators import politeness as pol
from literature_crawler_spark.session import get_spark

cpus = int(sys.argv[1]); n_urls = int(sys.argv[2]); regime = sys.argv[3]
# master override (VERDICT r03 item 4): 'local-cluster[N,C,M]' runs N
# separate worker JVMs x C cores — the in-sandbox stand-in for real
# executors, measuring whether per-JVM Arrow lanes multiply out
master = sys.argv[4] if len(sys.argv) > 4 and sys.argv[4] else f"local[{cpus}]"
extra = {}
if master.startswith("local-cluster"):
    # executor heap = worker memory minus ~25%% headroom (the worker
    # rejects executors asking for its full allotment)
    worker_mb = int(master.rstrip("]").split(",")[2])
    extra = {"spark.executor.memory": f"{max(worker_mb * 3 // 4, 1024)}m",
             "spark.executor.extraJavaOptions":
                 "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=1"}
spark = get_spark("north", master=master, shuffle_partitions=max(2 * cpus, 4),
                  extra_conf=extra)
n_hosts = 1000

def steal():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0

def urls(ids):
    host = F.when(F.col("id") %% 10 == 0, F.lit(0)).otherwise(F.col("id") %% n_hosts)
    return ids.select(F.col("id"), F.concat(
        F.lit("https://h"), host.cast("string"), F.lit(".example.org/page/"),
        F.col("id").cast("string"),
        F.when(F.col("id") %% 4 == 0, F.lit("?utm_source=x")).otherwise(F.lit(""))).alias("url"))

if regime == "atscale":  # seen = 2x candidates: past any broadcast ceiling
    seen_ids = spark.range(0, n_urls * 2)
else:  # small: seen = 1/3 of the keyspace (the bench_frontier regime)
    seen_ids = spark.range(0, n_urls, 3)
seen = fr.canonicalize_candidates(urls(seen_ids), output_cols=[]).select("url_hash").persist()
seen_n = seen.count()

import shutil, tempfile
store_dir = tempfile.mkdtemp(prefix="northcuckoo_")
cstore = cuckoo_mod.BucketedCuckooStore.create(store_dir, expected_items=seen_n, n_buckets=64)
cstore.merge(seen)  # untimed: the store is maintained incrementally across waves

def run_once():
    t0 = time.time()
    # fused kernel: canonicalize + xxhash64 + store probe in ONE Arrow
    # crossing (operators/frontier.py, round 4)
    cand = fr.canonicalize_candidates(urls(spark.range(n_urls)),
                                      output_cols=["id"], probe_store=cstore)
    new = fr.dedup_against_seen(spark, cand, seen, expected_seen=seen_n)
    pending = new.select("canon_url", "url_hash", "host",
                         F.lit(0).alias("priority"), F.col("id").alias("seq"))
    sched = pol.schedule_wave(pending, politeness=None, default_budget=1000)
    sched.write.format("noop").mode("overwrite").save()
    return time.time() - t0

def calib():
    # single-core host-speed anchor taken INSIDE the leg: identical legs
    # of one kernel measured 590-744k/s hours apart on this shared VM
    # (clean steal both times) — per-leg calibration lets a ratio cancel
    # the drift
    _n = 6_000_000
    _t0 = time.time()
    _s = 0
    for _i in range(_n):
        _s += _i * _i
    return round(_n / (time.time() - _t0))

run_once()  # full-size JIT warmup (untimed)
'''

# Batch driver: steal-gated best-of-reps in one shot, RESULT on stdout.
_LEG = (_COMMON + r'''
# a rep is clean when system-wide steal during its window stays under this
# fraction of the leg\'s own core-seconds (steal is a whole-VM counter, so
# an absolute cap over-rejects low-parallelism legs)
STEAL_FRAC_CAP = float(sys.argv[5]) if len(sys.argv) > 5 else 0.25
WANT_CLEAN = int(sys.argv[6]) if len(sys.argv) > 6 else 3
MAX_ATTEMPTS = int(sys.argv[7]) if len(sys.argv) > 7 else 40
best, best_frac, clean_reps, attempts, clean_times = None, None, 0, 0, []
dirty_best, dirty_frac = None, None
while clean_reps < WANT_CLEAN and attempts < MAX_ATTEMPTS:
    attempts += 1
    s0 = steal()
    dt = run_once()
    frac = (steal() - s0) / 100.0 / (dt * cpus)
    if frac > STEAL_FRAC_CAP:
        # dirty reps never set the reported best: a contaminated rep can
        # undercut slow-but-clean ones, making clean_reps>0 lie about the
        # number\'s provenance; kept only as the all-dirty fallback
        if dirty_best is None or dt < dirty_best:
            dirty_best, dirty_frac = dt, frac
        print(f"  dirty rep ({frac:.0%%} of leg core-sec stolen), retrying", flush=True)
        time.sleep(12)  # storms last minutes: spread attempts over time
        continue
    clean_reps += 1
    clean_times.append(dt)
    if best is None or dt < best:
        best, best_frac = dt, frac
if clean_reps == 0:
    best, best_frac = dirty_best, dirty_frac
    print("  WARNING: no clean rep achieved; value is steal-contaminated", flush=True)
# median of clean reps alongside the min: scaling RATIOS need a robust
# estimator — min systematically picks the scheduling-lucky outlier of
# the small leg (its python workers pipeline onto the idle box\'s spare
# cores), inflating the denominator of an efficiency pair
med = sorted(clean_times)[len(clean_times) // 2] if clean_times else best
c = calib()
shutil.rmtree(store_dir, ignore_errors=True)
print("RESULT", cpus, regime, n_urls, seen_n, round(best, 3), round(n_urls / best),
      clean_reps, attempts, round(best_frac, 3), round(med, 3), round(n_urls / med),
      c)
spark.stop()
''') % REPO


# Server-mode leg for PAIRED interleaved measurement: same prologue and
# kernel, but after warmup it waits on stdin and runs ONE rep per "REP"
# command, reporting (sec, steal_frac) per rep. The parent keeps BOTH legs
# of a scaling pair alive and ping-pongs reps between them, so every
# efficiency ratio is built from two reps that sampled (nearly) the same
# host window — sequential legs run minutes apart and host-speed drift
# between them (frequency scaling / noisy neighbors that never show up in
# the steal counter) was the dominant error term in the pair (observed
# 0.69 vs 0.91 for the same kernel across back-to-back sequential runs).
# Reps NEVER run concurrently: the idle leg\'s JVM just parks.
_PAIR_LEG = (_COMMON + r'''
print("@READY", seen_n, flush=True)
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "REP":
        s0 = steal()
        dt = run_once()
        frac = (steal() - s0) / 100.0 / (dt * cpus)
        print("@REP", round(dt, 4), round(frac, 4), flush=True)
    elif cmd == "CALIB":
        print("@CALIB", calib(), flush=True)
    elif cmd == "QUIT":
        break
shutil.rmtree(store_dir, ignore_errors=True)
print("@DONE", flush=True)
spark.stop()
''') % REPO


def _leg_env(cpus: int, pair: bool = False) -> dict:
    """Per-leg driver-JVM environment: GC pools sized to the leg, and —
    for paired runs, where two driver JVMs are alive at once — a heap cap
    well under half the box (the kernel's working set is only a few GB; a
    tighter cap keeps GC honest)."""
    gc = max(2, min(cpus, 8))
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-XX:ParallelGCThreads={gc} -XX:ConcGCThreads={max(gc // 4, 1)}"
        ),
    )
    if pair:
        env["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get(
            "SPARK_GRAFT_PAIR_DRIVER_MEM", "24g"
        )
    return env


class _PairLeg:
    """One live leg subprocess speaking the @READY/@REP/@CALIB protocol.

    stderr goes to a tempfile (Spark logs would deadlock a full pipe);
    stdout is read line-by-line, skipping anything that is not a protocol
    line (Spark occasionally prints progress to stdout)."""

    def __init__(self, cpus: int, n_urls: int, regime: str,
                 master: str | None = None):
        import tempfile

        self.cpus = cpus
        self.master = master or f"local[{cpus}]"
        env = _leg_env(cpus, pair=True)
        self._errf = tempfile.NamedTemporaryFile(
            mode="w", prefix=f"pairleg_{cpus}_", suffix=".err", delete=False
        )
        self.proc = subprocess.Popen(
            [sys.executable, "-c", _PAIR_LEG, str(cpus), str(n_urls), regime,
             self.master],
            env=env, cwd=REPO, text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._errf,
        )
        self.seen_n = None

    # generous per-protocol-line deadline: the slowest legitimate wait is
    # @READY on the 4-JVM local-cluster leg (JVM spin-up + a 32M-key store
    # merge, ~1-2 min); a leg that produces NOTHING for this long is
    # wedged (e.g. a worker that never registers), and blocking forever
    # here would hang bench.py's whole scaling block — kill it and raise
    # so the caller's try/except still emits a bench artifact.
    EXPECT_TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_PAIR_TIMEOUT", "900"))

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
        import select

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
        parts = self._expect("@READY")
        self.seen_n = int(parts[1])

    def rep(self) -> tuple[float, float]:
        self.proc.stdin.write("REP\n")
        self.proc.stdin.flush()
        parts = self._expect("@REP")
        return float(parts[1]), float(parts[2])

    def calib(self) -> int:
        self.proc.stdin.write("CALIB\n")
        self.proc.stdin.flush()
        return int(self._expect("@CALIB")[1])

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
    regime: str = "atscale",
    want_clean: int = 5,
    max_rounds: int = 14,
    steal_frac_cap: float = 0.25,
    sleep_s: float = 10.0,
    reps_per_leg: int = 2,
) -> dict:
    """Paired N -> 4N measurement: both legs stay alive; each round
    interleaves ``reps_per_leg`` reps per leg (a, b, a, b — never
    concurrent), so the round's efficiency ratio samples one host window.
    Each leg's round time is the MIN over its in-round reps that pass the
    steal gate — the run-G min-of-clean-reps treatment (BENCH.md round-4)
    applied per round: sub-gate steal contamination (4-14% reps measured
    several-fold slow) is discarded as long as ONE rep per leg lands
    clean, instead of poisoning that round's ratio. A round is clean only
    when BOTH legs got >= 1 gate-passing rep. Returns per-leg dicts
    (same keys run_leg produces) plus the pair-level
    ``eff_paired_median`` = median over clean rounds of
    rate_large_i / (4 * rate_small_i)."""
    a = _PairLeg(small[0], n_urls, regime, master=small[1])
    try:
        b = _PairLeg(large[0], n_urls, regime, master=large[1])
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
            for _ in range(max(1, reps_per_leg)):
                reps_a.append(a.rep())
                reps_b.append(b.rep())

            def _pick(reps):
                cl = [(dt, fr) for dt, fr in reps if fr <= steal_frac_cap]
                use_reps = cl or reps
                return min(use_reps, key=lambda r: r[0]) + (bool(cl),)

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
    n_clean = len([r for r in rounds if r["clean"]])

    def leg(key: str, skey: str, cpus: int, master: str, calib: int) -> dict:
        best = min(use, key=lambda r: r[key])
        med = _median([r[key] for r in use])
        return {
            "cpus": cpus, "regime": regime, "n_urls": n_urls, "seen": a.seen_n,
            "sec": best[key], "rate": round(n_urls / best[key]),
            "clean_reps": n_clean, "attempts": attempts,
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
        "all_rounds_dirty": not any(r["clean"] for r in rounds),
    }


def run_leg(
    cpus: int,
    n_urls: int,
    regime: str,
    steal_frac_cap: float = 0.25,
    master: str | None = None,
    clean_reps: int = 3,
    max_attempts: int = 40,
    pin_cpus: int | None = None,
) -> dict:
    """``pin_cpus``: taskset the whole leg (JVMs + python workers) onto
    CPUs 0..pin_cpus-1. Small legs on an idle box otherwise win the
    placement lottery — a 2-task leg's python workers pipeline onto spare
    cores, inflating it 20-25% run-to-run and poisoning any efficiency
    ratio built on it. Pinning makes each leg a fixed-size "node"."""
    env = _leg_env(cpus)
    argv = [sys.executable, "-c", _LEG, str(cpus), str(n_urls), regime,
            master or f"local[{cpus}]", str(steal_frac_cap),
            str(clean_reps), str(max_attempts)]
    if pin_cpus is not None:
        argv = ["taskset", "-c", f"0-{pin_cpus - 1}"] + argv
    out = subprocess.run(argv, env=env, capture_output=True, text=True,
                         check=True, cwd=REPO)
    for line in out.stdout.splitlines():
        if line.startswith("  "):
            print(f"[{regime}@{master or cpus}]{line}", flush=True)
    parts = [l for l in out.stdout.splitlines() if l.startswith("RESULT")][0].split()
    return {
        "cpus": int(parts[1]), "regime": parts[2], "n_urls": int(parts[3]),
        "seen": int(parts[4]), "sec": float(parts[5]), "rate": int(parts[6]),
        "clean_reps": int(parts[7]), "attempts": int(parts[8]),
        "steal_frac_of_best_rep": float(parts[9]),
        "sec_median": float(parts[10]), "rate_median": int(parts[11]),
        "calib_loops_per_sec": int(parts[12]),
        "master": master or f"local[{cpus}]",
    }


def main() -> None:
    n_urls = 8_000_000
    multi_jvm = "--multi-jvm" in sys.argv
    out: dict[str, dict] = {}
    if multi_jvm:
        # VERDICT r03 item 4 + the north rule's OWN shape: N vs 4N
        # EXECUTORS. local-cluster[W,8,8192] runs W separate executor JVMs
        # (each with its own python-worker pool and Arrow lane) x 8 cores —
        # the faithful in-sandbox surrogate for a 1-executor vs 4-executor
        # cluster, and the direct test of whether the per-JVM Arrow lane
        # multiplies out with executor count. Same input, at-scale regime
        # (16M-key seen, maintained cuckoo store).
        legs = {
            "local[8]": run_leg(8, n_urls, "atscale"),
            "local-cluster[1,8,8192]": run_leg(
                8, n_urls, "atscale", master="local-cluster[1,8,8192]"
            ),
            "local-cluster[4,8,8192]": run_leg(
                32, n_urls, "atscale", master="local-cluster[4,8,8192]"
            ),
            # The UNSATURATED executor pair — the honest N -> 4N executor
            # measurement on one box. The 4x8 leg above saturates the VM
            # (32 task threads + ~32 python canonicalizer workers + 4 GC
            # pools > 32 CPUs), so it measures box contention, not executor
            # scaling. 1x2 -> 4x2 keeps every leg's full footprint (tasks +
            # python workers + GC) under ~half the box, so the only thing
            # that changes between the ends is executor count.
            "local-cluster[1,2,4096]": run_leg(
                2, n_urls, "atscale", master="local-cluster[1,2,4096]"
            ),
            "local-cluster[4,2,4096]": run_leg(
                8, n_urls, "atscale", master="local-cluster[4,2,4096]"
            ),
        }
        eff_exec = round(
            legs["local-cluster[4,8,8192]"]["rate"]
            / (4 * legs["local-cluster[1,8,8192]"]["rate"]), 3
        )
        eff_vs_local = round(
            legs["local-cluster[4,8,8192]"]["rate"] / (4 * legs["local[8]"]["rate"]), 3
        )
        eff_unsat = round(
            legs["local-cluster[4,2,4096]"]["rate"]
            / (4 * legs["local-cluster[1,2,4096]"]["rate"]), 3
        )
        out["multi_jvm"] = {
            "legs": legs,
            "eff_1x8_to_4x8_executors": eff_exec,
            "eff_local8_to_4x8": eff_vs_local,
            "eff_1x2_to_4x2_executors_unsaturated": eff_unsat,
        }
        print("multi_jvm", {k: v["rate"] for k, v in legs.items()},
              "eff 1 -> 4 executors:", eff_exec,
              "eff local[8] -> 4x8:", eff_vs_local,
              "eff 1x2 -> 4x2 (unsaturated):", eff_unsat, flush=True)
        with open("/tmp/lcs_multi_jvm.json", "w") as f:
            json.dump(out, f)
        print("wrote /tmp/lcs_multi_jvm.json")
        return
    for regime in ("atscale", "small"):
        legs = {c: run_leg(c, n_urls, regime) for c in (2, 8, 32)}
        out[regime] = {
            "legs": legs,
            "eff_2_to_8": round(legs[8]["rate"] / (4 * legs[2]["rate"]), 3),
            "eff_8_to_32": round(legs[32]["rate"] / (4 * legs[8]["rate"]), 3),
        }
        print(regime, {c: legs[c]["rate"] for c in legs},
              "eff 2->8:", out[regime]["eff_2_to_8"],
              "eff 8->32:", out[regime]["eff_8_to_32"], flush=True)
    with open(CACHE, "w") as f:
        json.dump(out, f)
    print("wrote", CACHE)


if __name__ == "__main__":
    main()
