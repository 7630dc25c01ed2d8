#!/usr/bin/env python3
"""Crawl benchmark: the engine's crawl (``plans.crawl.run_crawl``) end to
end on one seeded workload, every crawl checked against the reference
model.

    python3 crawlbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the checkout root. Workloads: ``wide_window``, ``k1_windows``,
``resume_recrawl`` (see crawlbench/README.md). The run builds (or reuses)
the seed's world, starts the engine's Spark session, sets the crawl up
three times, then crawls the world on fresh stores until ``--seconds``
have passed, at least once. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it reports per-layer metrics of
one crawl, read from the crawl's stage clock, Spark's status stores and
isolated probes of each layer.

Output, on stdout: one compact JSON line with every metric and its unit,
then one detail line, then the result line
``{"correct", "attempted", "failed", "metrics"}`` last.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback


def _process_start() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    now = time.time()
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        start = now - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
        if now - 60 < start <= now:
            return start
    except (OSError, IndexError, ValueError):
        pass
    return now


T_PROCESS = _process_start()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from news_crawler_spark.plans.crawl import InjectedFailure  # noqa: E402
from news_crawler_spark.sources.store import SnapshotStore  # noqa: E402

from crawlbench import gate, memory, probes, runtime, trace, worlds  # noqa: E402

T_IMPORTED = time.time()
SETUP_REPS = 3     # the crawl's own set-up plus two dry ones
HISTORY_RUNS = 11  # untraced crawl walls the traced run's overhead is relative to


def log(msg: str) -> None:
    print(f"[crawlbench {time.time() - T_PROCESS:6.1f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(worlds.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    wl = worlds.WORKLOADS[args.workload]
    os.chdir(runtime.ROOT)

    # ---- inputs (not timed): world and golden ----------------------------
    world_dir, golden = worlds.ensure_world(runtime.CACHE, wl, args.seed)
    if args.trace and not _history(wl):
        # the traced run's overhead is relative to untraced crawls of this
        # checkout; make one first when there is none
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", wl.name,
                        "--seed", str(args.seed), "--seconds", "1", "--trace", "0"],
                       check=True, timeout=170, stdout=subprocess.DEVNULL)
    log(f"{wl.name} seed={args.seed}: world {world_dir}, {len(golden.docs)} golden docs")

    # ---- session ----------------------------------------------------------
    runtime.confine_to_checkout()
    t0 = time.time()
    spark = runtime.start_spark()
    session_s = time.time() - t0
    cores = spark.sparkContext.defaultParallelism
    try:
        tmpl = build_template(spark, wl, world_dir) if wl.stop_after else None
        log("set-up starts")
        return measure(spark, wl, args, world_dir, golden, tmpl, session_s, cores)
    finally:
        runtime.drop_run_tables(spark)
        runtime.stop_spark(spark)
        shutil.rmtree(os.path.join(runtime.CACHE, "run"), ignore_errors=True)


def build_template(spark, wl, world_dir: str) -> str:
    """The store a stopped crawl leaves behind: the world's first
    ``stop_after`` windows committed, the way a killed cron run stops.
    Every measured crawl resumes from a copy of it. Built in the
    measuring process on every run (not timed), so every run measures
    the same JVM state."""
    out = runtime.scratch("template")
    try:
        runtime.crawl(spark, wl, world_dir, out, fail_after_batch=wl.stop_after)
        raise RuntimeError("the template crawl finished before its stop window")
    except InjectedFailure:
        pass
    runtime.drop_run_tables(spark)
    return out


def _fresh_store(tmpl: str | None) -> str:
    store_dir = runtime.scratch("store")
    if tmpl:
        shutil.rmtree(store_dir)
        shutil.copytree(tmpl, store_dir)
    return store_dir


def measure(spark, wl, args, world_dir, golden, tmpl, session_s, cores) -> int:
    # ---- set-up, repeated: read the world + the crawl prelude -----------
    setups = []
    for _ in range(SETUP_REPS - 1):
        res, read_s, _ = runtime.crawl(spark, wl, world_dir, _fresh_store(tmpl),
                                       max_batches=0)
        setups.append(read_s + res.prelude_s)
        runtime.drop_run_tables(spark)

    # ---- measured crawls --------------------------------------------------
    crawls, failures = [], []
    raised = 0
    traced = None
    t_measure = time.time()
    while not crawls and not failures or time.time() - t_measure < args.seconds:
        store_dir = _fresh_store(tmpl)
        mark = trace.marks(spark) if args.trace else None
        try:
            with memory.PeakRss() as rss, (trace.AccumulatorPin(spark, mark) if mark
                                            else contextlib.nullcontext()) as pin:
                t_crawl = time.time()
                res, read_s, wall = runtime.crawl(spark, wl, world_dir, store_dir)
            marks = (mark, trace.marks(spark)) if mark else None
            problems = gate.mismatches(spark, SnapshotStore(store_dir), golden)
        except Exception:  # noqa: BLE001 — a failed crawl is counted, never dropped
            raised += 1
            failures.append(traceback.format_exc(limit=4))
            log(f"crawl {len(crawls) + raised} raised:\n{failures[-1]}")
            runtime.drop_run_tables(spark)
            continue
        if not crawls:
            setups.append(read_s + res.prelude_s)
        crawls.append({"res": res, "wall": wall, "rss": rss.peak, "rss_jvm": rss.peak_jvm})
        log(f"crawl {len(crawls)}: {wall:.2f} s, {res.batches} windows, "
            f"{res.accepted} accepted")
        if args.trace:
            traced, checks = layer_metrics(spark, wl, res, marks, pin, t_crawl, wall,
                                           cores, world_dir, store_dir, tmpl)
            problems += checks
        if problems:
            failures.append("; ".join(problems))
            log(f"crawl {len(crawls)} failed its checks: {failures[-1]}")
        runtime.drop_run_tables(spark)
        if args.trace:
            break
    if not crawls:
        log("no crawl completed; no metrics to report")
        return 1

    attempted = len(crawls) + raised
    if args.trace:
        out = {k: {"value": v, "unit": _layer_unit(k)} for k, v in traced.items()}
    else:
        _record_history(wl, args.seed, [c["wall"] for c in crawls])
        out = {k: {"value": v, "unit": _E2E_UNITS[k]}
               for k, v in end_to_end(crawls, setups, session_s).items()}
    windows = [b["wall_ms"]["window_total"] for c in crawls for b in c["res"].per_batch]
    # compact line first: a capture cut at the tail still holds every metric
    print(json.dumps({"workload": wl.name, "seed": args.seed, "trace": args.trace,
                      "failed_frac": len(failures) / attempted,
                      "metrics": {k: [round(v["value"], 4), v["unit"]]
                                  for k, v in out.items()}}))
    print(json.dumps({"detail": {
        "crawls": len(crawls), "window_samples": len(windows), "window_ms": windows,
        "crawl_wall_s": [round(c["wall"], 3) for c in crawls],
        "peak_rss_jvm_mb": [round(c["rss_jvm"] / 2**20, 1) for c in crawls],
        "setup_samples_s": [round(s, 3) for s in setups], "session_s": round(session_s, 3),
        "cores": cores, "failures": failures,
    }}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))
    return 0


# ------------------------------------------------------------ end to end

_E2E_UNITS = {"fetched_urls_per_s": "1/s", "window_ms_p50": "ms", "resume_s": "s",
              "setup_s": "s", "peak_rss_mb": "MiB"}


def end_to_end(crawls, setups, session_s) -> dict:
    med = statistics.median
    return {
        # listing dispatches + article-detail fetches per second of crawl
        "fetched_urls_per_s": med((c["res"].dispatched + c["res"].accepted) / c["wall"]
                                  for c in crawls),
        "window_ms_p50": med(b["wall_ms"]["window_total"]
                             for c in crawls for b in c["res"].per_batch),
        # prelude + first window: how long a (re)started crawl takes to
        # commit new work
        "resume_s": med(c["res"].prelude_s + c["res"].per_batch[0]["wall_ms"]["window_total"]
                        / 1000 for c in crawls),
        "setup_s": (T_IMPORTED - T_PROCESS) + session_s + med(setups),
        "peak_rss_mb": med(c["rss"] for c in crawls) / 2**20,
    }


def _history_path() -> str:
    return os.path.join(runtime.CACHE, "untraced_walls.jsonl")


def _record_history(wl, seed: int, walls: list[float]) -> None:
    with open(_history_path(), "a") as f:
        for w in walls:
            f.write(json.dumps({"workload": wl.name, "seed": seed, "wall_s": w}) + "\n")


def _history(wl) -> list[float]:
    try:
        with open(_history_path()) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []
    return [r["wall_s"] for r in rows if r["workload"] == wl.name][-HISTORY_RUNS:]


# ------------------------------------------------------------ per layer

def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_bytes", "bytes_written", "bytes_to_python")):
        return "B"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_frac", "_rate", "pool_util")):
        return "ratio"
    return "count"


def layer_metrics(spark, wl, res, marks, pin, t_crawl, wall, cores, world_dir,
                  store_dir, tmpl) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced crawl and the checks that they
    reconcile: stage clocks within each window wall, task time within
    wall x cores, and a Bloom probe with no false negatives."""
    out, checks = trace.stage_clock(res)
    t_harvest = time.time()
    out.update(trace.spark_jobs(spark, *marks, t_crawl * 1000, (t_crawl + wall) * 1000,
                                cores))
    out.update(trace.sql_layers(spark, *marks, res.batches, pin))
    log(f"status stores harvested in {time.time() - t_harvest:.1f} s")
    if out["spark.task_ms"] > wall * 1000 * cores:
        checks.append(f"task time {out['spark.task_ms']:.0f} ms exceeds wall x cores "
                      f"{wall * 1000 * cores:.0f} ms")
    history = _history(wl)
    out["trace.overhead_frac"] = wall / statistics.median(history) - 1

    store = SnapshotStore(store_dir)
    rates, cands = probes.parse_and_gates(spark, world_dir)
    out.update(rates)
    # the seen set the prefilter holds going into the crawl's next window:
    # as the template committed it, or after a fresh crawl's first window
    seen_df = store.read_at_batch(
        spark, "seen", SnapshotStore(tmpl).last_batch_id if tmpl else 1)
    seen = [r.url_canon for r in seen_df.collect()] if seen_df is not None else []
    bloom_out, bloom_bad = probes.bloom_probe(spark, seen, cands)
    cands.unpersist()
    out.update(bloom_out)
    checks += bloom_bad
    out["store.read_ms"] = probes.store_read(spark, SnapshotStore(tmpl) if tmpl else store)
    out["store.commit_ms"] = probes.store_commit(spark, store, runtime.scratch("commit"))
    return out, checks


if __name__ == "__main__":
    sys.exit(main())
