"""Seeded crawl worlds for the benchmark workloads.

A world is a seeded draw of virtual-site replica ids (``daum#523441``)
rendered through ``synth``'s per-site pure functions: listing pages,
the articles they link and one robots row per host. The engine only
ever sees the resulting ``seeds``/``robots``/``corpus`` tables; the
reference model sees the same rows.

Worlds are cached as parquet per (workload, seed) under the cache
directory, so input generation stays out of the timed part of a run.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from news_crawler_spark import config, synth
from news_crawler_spark.config import PROFILES, host_of, origin_of, profile_of
from news_crawler_spark.reference_model import run_reference_model

WORLD_VERSION = 1  # bump when generation changes, to invalidate caches
KEEP_WORLDS = 24   # cached worlds kept; older ones are pruned


@dataclass(frozen=True)
class Workload:
    name: str
    replicas: int              # virtual-site replicas; each covers all 10 profiles
    scale: float               # synth.world_params scale (articles per site)
    page_cap: int              # listing pages generated per seed (0 = all)
    pages_per_batch: int       # crawl window K
    cache_corpus: bool = False
    compact_every: int | None = None
    stop_after: int = 0        # windows a first crawl commits before it is stopped
    reference_keywords: bool = False  # News_keyword.json-scale 486/259 config

    def keywords(self) -> tuple[list[str], list[str]]:
        """(include, exclude) keyword lists the world, the golden and the
        crawl all use."""
        if self.reference_keywords:
            inc, exc, _ = config.load_keyword_config(synth.make_keyword_config())
            return inc, exc
        return list(config.INCLUDE_KEYWORDS), list(config.EXCLUDE_KEYWORDS)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("wide_window", replicas=4, scale=1.0, page_cap=0, pages_per_batch=64,
                 reference_keywords=True),
        Workload("resume_recrawl", replicas=4, scale=0.25, page_cap=2, pages_per_batch=1,
                 cache_corpus=True, compact_every=1, stop_after=1),
    )
}


def replica_ids(seed: int, n: int) -> list[int]:
    """Distinct replica ids drawn from the workload seed."""
    return random.Random(seed).sample(range(1, 1_000_000), n)


def build_rows(wl: Workload, seed: int) -> dict[str, list[dict]]:
    """The world's tables as python rows (the reference model's input)."""
    sizes = synth.world_params(wl.scale)
    corpus: list[dict] = []
    seeds: list[dict] = []
    robots: list[dict] = []
    for rid in replica_ids(seed, wl.replicas):
        for prof in PROFILES:
            site = f"{prof.site}#{rid}"
            n_art = sizes[prof.site]
            n_pages = synth.pages_per_seed(site, n_art)
            if wl.page_cap:
                n_pages = min(n_pages, wl.page_cap)
            linked: set[int] = set()
            for s in range(prof.n_seeds):
                seeds.append({
                    "seed_index": len(seeds), "site": site,
                    "url": synth.listing_url(site, s, 1).split("?")[0],
                    "max_pages": prof.max_pages,
                })
                for page in range(1, n_pages + 1):
                    linked.update(it["art_id"] for it in
                                  synth.listing_items(site, s, page, n_art))
                    corpus.append({
                        "url_canon": synth.listing_url(site, s, page),
                        "page_kind": "listing", "site": site,
                        "content": synth.listing_content(site, s, page, n_art)
                        .encode(prof.charset),
                        "charset": prof.charset, "http_status": 200,
                        "fetch_latency_ms": 20 + synth.H("lat", site, s, page) % 400,
                        "page": page,
                    })
            for art_id in sorted(linked):
                corpus.append({
                    "url_canon": synth.canon_url(site, art_id),
                    "page_kind": "article", "site": site,
                    "content": synth.article_content(site, art_id).encode(prof.charset),
                    "charset": prof.charset,
                    "http_status": synth.article_status(site, art_id),
                    "fetch_latency_ms": 20 + synth.H("lat2", site, art_id) % 400,
                    "page": None,
                })
            robots.append({
                "host": host_of(site),
                "crawl_delay_s": profile_of(site).crawl_delay_s,
                "disallow_prefixes": [synth.DISALLOW_PREFIX],
            })
    assert all(r["url_canon"].startswith(origin_of(r["site"])) for r in corpus)
    return {"corpus": corpus, "seeds": seeds, "robots": robots}


_ARROW = {
    "corpus": pa.schema([
        ("url_canon", pa.string()), ("page_kind", pa.string()), ("site", pa.string()),
        ("content", pa.binary()), ("charset", pa.string()),
        ("http_status", pa.int32()), ("fetch_latency_ms", pa.int32()),
        ("page", pa.int32()),
    ]),
    "seeds": pa.schema([
        ("seed_index", pa.int32()), ("site", pa.string()), ("url", pa.string()),
        ("max_pages", pa.int32()),
    ]),
    "robots": pa.schema([
        ("host", pa.string()), ("crawl_delay_s", pa.float64()),
        ("disallow_prefixes", pa.list_(pa.string())),
    ]),
}


def world_dir(cache: str, wl: Workload, seed: int) -> str:
    return os.path.join(cache, "worlds", f"{wl.name}-{seed}")


def ensure_world(cache: str, wl: Workload, seed: int) -> tuple[str, Golden]:
    """Write the (workload, seed) world as parquet and its reference-model
    golden as JSON, once; return the world directory and the golden. The
    corpus is partitioned by (page_kind, page) the way
    ``sources.world.write_world`` lays it out, so window scans prune to
    their page band."""
    out = world_dir(cache, wl, seed)
    meta = {"version": WORLD_VERSION, "workload": asdict(wl), "seed": seed}
    try:
        with open(os.path.join(out, "_WORLD.json")) as f:
            if json.load(f) == meta:
                return out, Golden.load(os.path.join(out, "golden.json"))
    except (OSError, ValueError):
        pass
    with config.keyword_scope(*wl.keywords()):
        rows = build_rows(wl, seed)
        golden = Golden.of(run_reference_model(rows))
    tmp = out + ".tmp"
    _rmtree(tmp)
    os.makedirs(tmp)
    for name, schema in _ARROW.items():
        table = pa.Table.from_pylist(rows[name], schema=schema)
        path = os.path.join(tmp, f"{name}.parquet")
        if name == "corpus":
            pq.write_to_dataset(table, path, partition_cols=["page_kind", "page"],
                                existing_data_behavior="overwrite_or_ignore")
        else:
            os.makedirs(path)
            pq.write_table(table, os.path.join(path, "part-0.parquet"))
    golden.dump(os.path.join(tmp, "golden.json"))
    with open(os.path.join(tmp, "_WORLD.json"), "w") as f:
        json.dump(meta, f)
    _rmtree(out)
    os.replace(tmp, out)
    _prune(os.path.dirname(out))
    return out, golden


def _prune(root: str) -> None:
    """Keep only the most recently built worlds."""
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_WORLDS:]:
        _rmtree(d)


@dataclass
class Golden:
    """What the reference model says a full crawl of the world yields."""
    docs: dict[str, list[tuple]]   # doc_id -> span tuples
    order: list[str]               # url_canon in crawl order
    seen: set[str]

    @classmethod
    def of(cls, g) -> "Golden":
        return cls({k: [tuple(s) for s in v] for k, v in g.docs.items()},
                   list(g.order), set(g.seen))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"docs": self.docs, "order": self.order,
                       "seen": sorted(self.seen)}, f)

    @classmethod
    def load(cls, path: str) -> "Golden":
        with open(path) as f:
            d = json.load(f)
        return cls({k: [tuple(s) for s in v] for k, v in d["docs"].items()},
                   d["order"], set(d["seen"]))


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
