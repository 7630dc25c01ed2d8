"""Process-level plumbing of a benchmark run: where it keeps its files,
how it starts and stops Spark, and how it crawls one workload world."""

from __future__ import annotations

import os
import shutil
import signal
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".crawlbench")   # worlds, templates, run scratch


def scratch(name: str) -> str:
    """A fresh, empty run-local directory under the cache."""
    path = os.path.join(CACHE, "run", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def confine_to_checkout() -> None:
    """Point every temp/spill location of this process and the JVM and
    Python workers it starts at the cache, so a run writes nothing
    outside its checkout. Must run before the session starts."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # executor-side Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_spark():
    """The engine's own session (``get_spark`` with its defaults, as
    ``bench.py`` calls it), plus run hygiene only: no console progress
    bars and a run-local warehouse for the compaction table."""
    from news_crawler_spark.session import get_spark

    return get_spark("crawlbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
    })


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, then reap every process
    this run started."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the reaper
            pass
    reap_children()


def reap_children(timeout: float = 15.0) -> None:
    from .memory import descendants

    deadline = time.time() + timeout
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def read_world(spark, world_dir: str) -> dict:
    return {name: spark.read.parquet(os.path.join(world_dir, f"{name}.parquet"))
            for name in ("corpus", "seeds", "robots")}


def drop_run_tables(spark) -> None:
    """The compaction fold's run-local bucketed ``seen`` table must not
    outlive its run."""
    for t in spark.catalog.listTables():
        if t.name.startswith("seen_bucketed_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def crawl(spark, wl, world_dir: str, store_dir: str, **kw):
    """One ``run_crawl`` of the workload's world into ``store_dir``.
    Returns (CrawlResult, seconds reading the world, crawl wall seconds)."""
    from news_crawler_spark import config
    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore

    inc, exc = wl.keywords()
    t0 = time.time()
    world = read_world(spark, world_dir)
    store = SnapshotStore(store_dir)
    t1 = time.time()
    with config.keyword_scope(inc, exc):
        res = run_crawl(spark, world, store, pages_per_batch=wl.pages_per_batch,
                        cache_corpus=wl.cache_corpus, compact_every=wl.compact_every,
                        include_keywords=inc, exclude_keywords=exc, **kw)
    return res, t1 - t0, time.time() - t1
