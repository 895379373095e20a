"""Crawl-wave benchmark for ``CrawlEngine``.

    python3 wavebench/run.py --workload small_waves --seed 1 --seconds 30 --trace 0
    python3 wavebench/run.py --self-test

Run from the root of a checkout. One run starts Spark on local[nproc], sets
up the engine three times (session start + median of engine construction and
bootstrap), then drives the workload's fixed wave program in a closed loop
and checks every wave against the single-threaded oracle (after ``retract``:
against the engine's invariants). ``--seconds`` is accepted but the wave
program is fixed, so the measured span is what the program takes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the program
once untraced and once with per-layer spans (see ``spans.py``) and prints
the per-layer metrics. The last stdout line is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
are a readable report. A full record of each run, with the host record,
goes to ``.wavebench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".wavebench")
DRIVER_MEM = "1g"  # pinned: the 48g default exceeds small hosts; 1g keeps peak RSS steady
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "urls_per_s": "URL/s",
    "wave_s_p50": "s",
    "resume_s": "s",
    "retract_s": "s",
    "state_mb": "MB",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "politeness.schedule_s": "s",
    "politeness.rows_out": "count",
    "fetch.fetch_s": "s",
    "fetch.rows_out": "count",
    "fetch.fetched_ratio": "ratio",
    "fetch.attempts_per_url": "attempts/URL",
    "frontier.canonicalize_s": "s",
    "frontier.canonicalize_rows_in": "count",
    "frontier.canonicalize_rows_out": "count",
    "frontier.robots_s": "s",
    "frontier.robots_rows_in": "count",
    "frontier.robots_denied": "count",
    "frontier.first_seen_s": "s",
    "frontier.first_seen_dup_ratio": "ratio",
    "frontier.seen_test_s": "s",
    "frontier.new_ratio": "ratio",
    "frontier.maybe_seen_ratio": "ratio",
    "cuckoo.merge_s": "s",
    "cuckoo.merge_keys": "count",
    "cuckoo.delete_s": "s",
    "cuckoo.load_factor": "ratio",
    "crawl.seq_s": "s",
    "crawl.seq_jobs": "count",
    "crawl.jobs_per_wave": "count",
    "crawl.driver_self_s": "s",
    "crawl.reconcile_s": "s",
    **{f"state.commit_s.{t}": "s" for t in
       ("frontier", "seen", "order", "outcomes", "metrics", "lineage")},
    "state.commits_per_wave": "count",
    "state.files_written": "count",
    "state.bytes_written": "B",
    "state.read_s.frontier": "s",
    "state.read_s.seen": "s",
    "state.compact_s": "s",
    "state.expire_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "trace.overhead_s": "s",
    "trace.input_s": "s",
}


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and pin the session's cores and driver memory."""
    for d in ("tmp", "spark-local", "results", "corpus", "oracle"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file: the JVM writes it to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Spark's
    Python daemon and workers outlive the JVM that forked them), so that
    ``_reap_descendants`` can stop and wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def _reap_descendants(grace_s: float = 20.0) -> None:
    """Wait for every remaining descendant to end: on its own for the first
    half of ``grace_s``, then after SIGTERM, then after SIGKILL."""
    t0 = time.monotonic()
    while kids := _children():
        waited = time.monotonic() - t0
        sig = None if waited < grace_s / 2 else signal.SIGTERM if waited < grace_s else signal.SIGKILL
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                if os.waitpid(pid, os.WNOHANG)[0] == 0 and sig is not None:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, sig)
        if waited > grace_s + 10:
            raise RuntimeError(f"processes {kids} did not end")
        time.sleep(0.05)


def _peak_rss_mb(spark) -> dict:
    """Peak RSS of the driver JVM (VmHWM) and of this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb * 1024 / 1e6, "python": py_kb * 1024 / 1e6}


def _sum(spans, name, key=None):
    sel = [s for s in spans if s["name"] == name]
    if key is None:
        return sum(s["end"] - s["start"] for s in sel)
    return sum(s["counts"].get(key, 0) for s in sel)


def _ratio(a, b):
    return a / b if b else 0.0


def layer_metrics(tracer, ph_traced, traced, untraced, ph_untraced, shuffle, load_factor):
    """Per-layer totals over the traced crawl after set-up, and the detail
    that goes to the run record."""
    spans = tracer.spans
    wave_phases = [p for p in ph_traced.wall if p.startswith("wave")]
    in_waves = [s for s in spans if s["phase"] in wave_phases]
    # spans are never nested outside absorbing spans, so a wave's wall time
    # is its spans plus the driver time between them
    self_s = {p: ph_traced.wall[p] - sum(s["end"] - s["start"] for s in spans if s["phase"] == p)
              for p in wave_phases}
    if min(self_s.values()) < -1e-3:
        raise RuntimeError(f"overlapping spans: driver self time {self_s}")
    fx = [s for s in spans if s["name"] == "fetch.fetch_extract"]
    canon_in_waves = [s for s in in_waves if s["name"] == "frontier.canonicalize"]
    sched = sum(w["scheduled"] for w in traced["waves"])
    fetched = sum(w["fetched"] for w in traced["waves"])
    timed_phases = [f"wave{w['wave']}" for w in untraced["waves"]]
    m = {
        "politeness.schedule_s": _sum(spans, "politeness.schedule"),
        "politeness.rows_out": _sum(spans, "politeness.schedule", "rows_out"),
        "fetch.fetch_s": _sum(spans, "fetch.extract") + _sum(spans, "fetch.fetch_extract"),
        "fetch.rows_out": sum(s["counts"].get("rows_in", 0) for s in canon_in_waves),
        "fetch.fetched_ratio": _ratio(fetched, sched),
        # the pages join looks each URL up once
        "fetch.attempts_per_url": _ratio(
            sum(s["counts"].get("attempts", 0) for s in fx),
            sum(s["counts"].get("rows_out", 0) for s in fx),
        ) if fx else 1.0,
        "frontier.canonicalize_s": _sum(spans, "frontier.canonicalize"),
        "frontier.canonicalize_rows_in": _sum(spans, "frontier.canonicalize", "rows_in"),
        "frontier.canonicalize_rows_out": _sum(spans, "frontier.canonicalize", "rows_out"),
        "frontier.robots_s": _sum(spans, "frontier.robots"),
        "frontier.robots_rows_in": _sum(spans, "frontier.robots", "rows_in"),
        "frontier.robots_denied": _sum(spans, "frontier.robots", "rows_in")
        - _sum(spans, "frontier.robots", "rows_out"),
        "frontier.first_seen_s": _sum(spans, "frontier.first_seen"),
        "frontier.first_seen_dup_ratio": 1 - _ratio(
            _sum(spans, "frontier.first_seen", "rows_out"),
            _sum(spans, "frontier.first_seen", "rows_in"),
        ) if _sum(spans, "frontier.first_seen", "rows_in") else 0.0,
        "frontier.seen_test_s": _sum(spans, "frontier.seen_test"),
        "frontier.new_ratio": _ratio(
            _sum(spans, "frontier.seen_test", "rows_out"),
            _sum(spans, "frontier.seen_test", "rows_in"),
        ),
        "frontier.maybe_seen_ratio": _ratio(
            _sum(spans, "frontier.seen_test", "maybe_seen"),
            _sum(spans, "frontier.seen_test", "rows_in"),
        ),
        "cuckoo.merge_s": _sum(spans, "cuckoo.merge"),
        "cuckoo.merge_keys": _sum(spans, "cuckoo.merge", "keys"),
        "cuckoo.delete_s": _sum(spans, "cuckoo.delete"),
        "cuckoo.load_factor": load_factor,
        "crawl.seq_s": _sum(spans, "crawl.seq"),
        "crawl.seq_jobs": sum(s["jobs"] for s in spans if s["name"] == "crawl.seq"),
        "crawl.jobs_per_wave": _ratio(
            sum(len(ph_untraced.jobs[p]) for p in timed_phases), len(timed_phases)
        ),
        "crawl.driver_self_s": sum(self_s.values()),
        "crawl.reconcile_s": _sum(spans, "crawl.reconcile"),
        **{f"state.commit_s.{t}": _sum(spans, f"state.commit.{t}") for t in
           ("frontier", "seen", "order", "outcomes", "metrics", "lineage")},
        "state.commits_per_wave": _ratio(
            sum(1 for s in in_waves if s["name"].startswith("state.commit.")), len(wave_phases)
        ),
        "state.files_written": sum(s["counts"].get("files", 0) for s in spans),
        "state.bytes_written": sum(s["counts"].get("bytes", 0) for s in spans),
        "state.read_s.frontier": _sum(spans, "state.read.frontier"),
        "state.read_s.seen": _sum(spans, "state.read.seen"),
        "state.compact_s": _sum(spans, "state.compact"),
        "state.expire_s": _sum(spans, "state.expire"),
        "spark.shuffle_write_bytes": _ratio(sum(w for w, _ in shuffle), len(shuffle)),
        "spark.shuffle_read_bytes": _ratio(sum(r for _, r in shuffle), len(shuffle)),
        "trace.overhead_s": statistics.median(w["secs"] for w in traced["waves"])
        - statistics.median(w["secs"] for w in untraced["waves"]),
        "trace.input_s": _sum(spans, "trace.input"),
    }
    detail = {
        "driver_self_s_per_wave": self_s,
        "jobs_per_wave_untraced": {p: len(ph_untraced.jobs[p]) for p in timed_phases},
        "jobs_per_wave_traced": {p: len(ph_traced.jobs[p]) for p in wave_phases},
        "wave_wall_traced": {p: ph_traced.wall[p] for p in wave_phases},
        "spans": [
            {k: s[k] for k in ("name", "phase", "jobs", "counts")}
            | {"start": s["start"], "end": s["end"]} for s in tracer.spans
        ],
    }
    return m, detail


def run(args) -> dict:
    _prepare_env()
    import bench
    import program
    import spans
    from literature_crawler_spark.session import get_spark

    w = program.WORKLOADS[args.workload]
    if args.tiny:
        w = w.tiny()
    nproc = len(os.sched_getaffinity(0))
    calib = bench._calibrate_cpu()
    steal0, wall0 = bench._steal_ticks(), time.perf_counter()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)

    t0 = time.perf_counter()
    spark = get_spark(
        "wavebench", master=f"local[{nproc}]",
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.ui.enabled": "true" if args.trace else "false"},
    )
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        pages_path, corpus_gen_s = program.corpus(spark, w, os.path.join(WORK, "corpus"))
        seeds = program.seed_urls(w, args.seed)
        oracle_res = program.oracle(spark, w, args.seed, seeds, os.path.join(WORK, "oracle"))
        inp = program.Inputs(spark, w, args.seed, pages_path, oracle_res)

        ph = program.Phases(sc, "run")
        setups = []
        # set-up is reported by untraced runs only; in a traced run the
        # untraced pass warms the JVM before the traced one
        for i in range(1 if args.trace else SETUP_REPS):
            with ph.phase("setup"):
                eng, dt = program.setup(spark, w, inp, os.path.join(run_dir, f"store{i}"))
            setups.append(dt)
        root = os.path.join(run_dir, f"store{len(setups) - 1}")
        for i in range(len(setups) - 1):
            shutil.rmtree(os.path.join(run_dir, f"store{i}"), ignore_errors=True)
        res = program.run_program(spark, w, inp, eng, root, ph)
        waves = res["waves"]
        metrics = {
            "setup_s": session_s + statistics.median(setups),
            "urls_per_s": sum(x["urls"] for x in waves) / sum(x["secs"] for x in waves),
            "wave_s_p50": statistics.median(x["secs"] for x in waves),
            "resume_s": res["resume_s"],
            "retract_s": res["retract_s"],
            "state_mb": program.dir_bytes(root) / 1e6,
        }
        correct = res["correct"]
        failed = list(res["failed_waves"])
        detail, rss = {}, {}
        if args.trace:
            shuffle = [spans.shuffle_bytes(sc, ph.jobs[f"wave{x['wave']}"]) for x in waves]
            tracer = spans.Tracer(sc)
            ph2 = program.Phases(sc, "traced", tracer)
            root2 = os.path.join(run_dir, "traced")
            with spans.install(tracer):
                with ph2.phase("setup"):
                    eng2, _ = program.setup(spark, w, inp, root2)
                res2 = program.run_program(spark, w, inp, eng2, root2, ph2)
            correct = correct and res2["correct"]
            failed = sorted(set(failed) | set(res2["failed_waves"]))
            lm, detail = layer_metrics(
                tracer, ph2, res2, res, ph, shuffle,
                spans.cuckoo_load_factor(os.path.join(root2, "bloom")),
            )
            metrics = lm
        else:
            rss = _peak_rss_mb(spark)
            metrics["peak_rss_mb"] = rss["jvm"] + rss["python"]
    finally:
        _stop(spark)
    wall = time.perf_counter() - wall0
    steal_frac = (bench._steal_ticks() - steal0) / 100.0 / (wall * nproc)
    shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "workload": w.name,
        "sizes": {k: getattr(w, k) for k in ("n_pages", "n_hosts", "n_seeds", "budget")},
        "seed": args.seed,
        "trace": args.trace,
        "correct": bool(correct),
        "attempted": res["attempted"],
        "failed": len(failed),
        "failed_waves": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        "waves": waves,
        "jobs_per_wave": {p: len(ph.jobs[p]) for p in (f"wave{x['wave']}" for x in waves)},
        "setup_reps_s": setups,
        "peak_rss_split_mb": rss,
        "session_s": session_s,
        "invariants": res["invariants"],
        "host": {
            "nproc": nproc,
            "driver_mem": DRIVER_MEM,
            "single_core_loop_per_sec": calib,
            "steal_frac": steal_frac,
            "steal_contaminated": steal_frac > bench.STEAL_FRAC_CAP,
            "wall_s": wall,
        },
        "corpus_gen_s": corpus_gen_s,
        "oracle_wall_s": oracle_res["wall_s"],
        "trace_detail": detail,
    }


def report(out: dict) -> None:
    h = out["host"]
    print(f"wavebench {out['workload']} seed={out['seed']} trace={out['trace']} "
          f"sizes={out['sizes']}")
    print(f"  host: nproc={h['nproc']} driver_mem={h['driver_mem']} "
          f"calibration={h['single_core_loop_per_sec']} loops/s "
          f"steal={100 * h['steal_frac']:.2f}%"
          + ("  ** STEAL-CONTAMINATED **" if h["steal_contaminated"] else ""))
    for k, v in out["metrics"].items():
        print(f"  {k:32s} {v['value']:>16.4f} {v['unit']}")
    print(f"  {'failed_frac':32s} {out['failed'] / out['attempted']:>16.4f} ratio "
          f"({out['failed']} of {out['attempted']} waves; failed: {out['failed_waves']})")
    print(f"  waves: " + ", ".join(f"w{x['wave']} {x['secs']:.2f}s" for x in out["waves"]))
    print(f"  jobs per wave: {out['jobs_per_wave']}")
    print(f"  reference: single-threaded oracle {out['oracle_wall_s']:.2f} s; corpus "
          + ("cached" if out["corpus_gen_s"] is None else f"generated in {out['corpus_gen_s']:.2f} s"))


def self_test() -> int:
    """Tiny-size end-to-end runs of every workload in both modes, checked
    against BENCHMARK.json, plus a demonstration that the oracle check
    catches a swapped pair of seqs."""
    import program

    oracle_res = {
        "order": [(1, 0, "https://a/0"), (1, 1, "https://a/1"), (2, 2, "https://a/2")],
        "metrics": [{"wave": 1, "scheduled": 2}, {"wave": 2, "scheduled": 1}],
        "seen": ["https://a/0", "https://a/1", "https://a/2"],
    }
    rows = [tuple(r) for r in oracle_res["order"]]
    ok = program.compare_waves(rows, oracle_res["metrics"], oracle_res["seen"], oracle_res, 2)
    swapped = [(1, 1, "https://a/0"), (1, 0, "https://a/1"), rows[2]]
    bad = program.compare_waves(swapped, oracle_res["metrics"], oracle_res["seen"], oracle_res, 2)
    assert not any(ok.values()), ok
    assert bad == {1: True, 2: False}, bad
    print("self-test: swapped seqs counted as 1 failed wave of 2")

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert want[0] == END_TO_END and want[1] == PER_LAYER, "BENCHMARK.json out of date"
    for wl in spec["workloads"]:
        for tr in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(tr), "--tiny"]
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=900)
            assert p.returncode == 0, p.stderr[-3000:]
            last = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            assert got == want[tr], (wl["name"], tr, got)
            assert all(isinstance(v["value"], (int, float)) for v in last["metrics"].values())
            assert last["correct"], p.stdout
            print(f"self-test: {wl['name']} trace={tr} ok "
                  f"(attempted={last['attempted']} failed={last['failed']})")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test corpus size")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(REPO, "literature_crawler_spark", "__init__.py")):
        print(f"wavebench: no literature_crawler_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(1, REPO)  # after this script's own directory
    if args.self_test:
        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    _become_subreaper()
    try:
        out = run(args)
    finally:
        _reap_descendants()
    name = f"{out['workload']}-seed{out['seed']}-trace{out['trace']}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(out, f, indent=1, default=str)
    report(out)
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
