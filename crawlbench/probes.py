"""Isolated layer probes: each layer's public functions called directly
on the workload's own data, outside the crawl loop, so a layer's rate
can be read without the rest of the window around it."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F


def _run(df) -> float:
    """Evaluate every row of ``df`` (no collect); return seconds."""
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _pinned(df):
    df = df.persist()
    return df, df.count()


def parse_and_gates(spark, world_dir: str) -> tuple[dict, object]:
    """``parse_listing``/``parse_article`` over the world's pages, then the
    per-row gates (``canonicalize_expr``, the 486/259 relevance path,
    ``parse_time_expr``) over the parsed items. Returns the rates and the
    canonical candidate URLs (persisted; the caller unpersists)."""
    from news_crawler_spark import config, synth
    from news_crawler_spark.functions.relevance import relevance_profile_fast_factory
    from news_crawler_spark.functions.timeparse import batch_ts_lit, parse_time_expr
    from news_crawler_spark.functions.urls import canonicalize_expr
    from news_crawler_spark.operators.parse import parse_article, parse_listing
    from news_crawler_spark.sources.world import profiles_df

    corpus = spark.read.parquet(os.path.join(world_dir, "corpus.parquet"))
    listings, n_l = _pinned(corpus.filter(F.col("page_kind") == "listing").select(
        "url_canon", "site", F.lit(0).alias("seed_index"), F.col("page").cast("int"),
        "content", "charset"))
    articles, n_a = _pinned(corpus.filter(F.col("page_kind") == "article").select(
        "url_canon", "site", "http_status", "content", "charset"))
    out = {"parse.listing_pages_per_s": n_l / _run(parse_listing(listings)),
           "parse.article_pages_per_s": n_a / _run(parse_article(articles))}
    items, n_i = _pinned(parse_listing(listings))
    listings.unpersist()
    articles.unpersist()

    sites = [r.site for r in items.select("site").distinct().collect()]
    prof = F.broadcast(profiles_df(spark, sites))
    inc, exc, _ = config.load_keyword_config(synth.make_keyword_config())
    relevant = relevance_profile_fast_factory(inc, exc)
    rows = items.join(prof, "site")
    gated = rows.select(
        canonicalize_expr(F.col("href"), F.col("origin"), F.col("strip_query"))
        .alias("url_canon"),
        relevant(F.col("title"), F.col("relevance_variant"), F.col("use_exclude"),
                 F.col("min_include")).alias("relevant"),
        parse_time_expr(F.col("time_str"), F.col("time_chain"), batch_ts_lit())
        .alias("ts"),
    )
    out["gates.rows_per_s"] = n_i / _run(gated)
    cands, _ = _pinned(rows.select(
        canonicalize_expr(F.col("href"), F.col("origin"), F.col("strip_query"))
        .alias("url_canon")).where(F.col("url_canon").isNotNull()).distinct())
    items.unpersist()
    return out, cands


def bloom_probe(spark, seen_urls: list[str], cands) -> tuple[dict, list[str]]:
    """Shards built from the committed ``seen`` set with ``rows_from_urls``,
    probed with ``probe_broadcast`` over the candidates, compared with
    exact membership. A Bloom filter may say "maybe seen" for a new URL
    (a wasted exact probe) but never "new" for a seen one."""
    from news_crawler_spark.operators import bloom

    seen = set(seen_urls)
    shards = bloom.rows_from_urls(seen_urls, n_shards=bloom.DEFAULT_N_SHARDS)
    t0 = time.time()
    flags = bloom.probe_broadcast(cands, shards, bloom.DEFAULT_N_SHARDS) \
        .select("url_canon", "maybe_seen").collect()
    dt = time.time() - t0
    bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())
    flagged = [r.url_canon for r in flags if r.maybe_seen]
    new = [r.url_canon for r in flags if r.url_canon not in seen]
    false_pos = sum(1 for u in flagged if u not in seen)
    problems = [f"bloom probe: {u} is seen but was not flagged"
                for u in (r.url_canon for r in flags if r.url_canon in seen and not r.maybe_seen)]
    return {
        "bloom.probe_rows_per_s": len(flags) / dt,
        "bloom.candidates": float(len(flags)),
        "bloom.candidates_seen": float(len(flags) - len(new)),
        "bloom.fp_rate": false_pos / len(new) if new else 0.0,
        "bloom.useful_frac": (len(flagged) - false_pos) / len(flagged) if flagged else 0.0,
    }, problems[:3]


STATE_TABLES = ("seed_state", "frontier_pending", "fuzzy_titles", "head_list",
                "retry_pending", "seen", "bloom_shards")


def store_read(spark, store) -> float:
    """``SnapshotStore.read`` plus a count of every state table, in ms."""
    t0 = time.time()
    for name in STATE_TABLES:
        df = store.read(spark, name)
        if df is not None:
            df.count()
    return (time.time() - t0) * 1000


def store_commit(spark, store, scratch_dir: str) -> float:
    """A synchronous ``SnapshotStore.commit`` of the store's first committed
    window (its state tables and first append deltas) into an empty
    store, in ms."""
    from news_crawler_spark.sources.store import SnapshotStore

    tables = store.manifest()["tables"]
    over, app = {}, {}
    for name, entry in tables.items():
        if not entry["dirs"]:
            continue
        df = spark.read.parquet(os.path.join(store.root, entry["dirs"][0]))
        (over if entry["mode"] == "overwrite" else app)[name] = df
    target = SnapshotStore(scratch_dir)
    t0 = time.time()
    target.commit(1, overwrite=over, append=app)
    return (time.time() - t0) * 1000
