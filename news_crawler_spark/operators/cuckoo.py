"""Sharded cuckoo-filter URL-seen prefilter — the 'cuckoo' arm of the
north rule's "Bloom/cuckoo" (operators/bloom.py is the Bloom arm; both
share the routing contract: a negative is DEFINITELY new, a positive
routes to the exact anti-join).

Why a cuckoo variant exists: unlike Bloom bits, cuckoo fingerprints
support DELETION — the state a re-crawl policy needs when URLs leave
the seen-set (expired documents re-fetched). Standard partial-key
cuckoo hashing: 4-slot buckets, fingerprint fp ∈ [1, 2^16), candidate
buckets i1 = h mod B and i2 = i1 XOR (fp·0x5bd1e995) mod B (XOR makes
the pair computable from either side — eviction needs no key).

Same shard layout as bloom: shard_id = h1(url) % n_shards, build via
applyInPandas per shard, probe via broadcast closure (small) — the
cogrouped path would mirror bloom.probe for filters past the broadcast
cap.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import _h12, route_new, shard_id_col

SLOTS = 4
MIX = np.uint64(0x5BD1E995)

CUCKOO_SCHEMA = "shard_id int, n_buckets bigint, table binary, version int, n_items bigint"


def _fingerprints(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(fp, i1) per url: fp from the md5's second word (never 0), primary
    bucket from the first word — matching the shard-routing hash family."""
    h1, h2 = _h12(urls)
    fp = (h2 % np.uint64(65535)).astype(np.uint64) + np.uint64(1)
    return fp, h1


def _alt_bucket(i: np.ndarray, fp: np.ndarray, n_buckets: np.uint64) -> np.ndarray:
    return (i ^ (fp * MIX)) % n_buckets


def build_shards(
    seen: DataFrame,
    n_shards: int = 32,
    buckets_per_shard: int = 1 << 14,   # × 4 slots ≈ 64k items/shard at 100% load
    version: int = 0,
) -> DataFrame:
    """seen(url_canon) → cuckoo shard table. Raises on insertion failure
    (size shards for ≤ ~80% load; the caller picks n_shards)."""
    nb = np.uint64(buckets_per_shard)

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard_id"].iloc[0])
        table = np.zeros((buckets_per_shard, SLOTS), dtype=np.uint16)
        fp, h1 = _fingerprints(pdf["url_canon"])
        i1 = (h1 // np.uint64(n_shards)) % nb
        n = _insert_into_table(table, fp, i1, nb, sid)
        return pd.DataFrame(
            [[sid, buckets_per_shard, table.tobytes(), version, n]],
            columns=["shard_id", "n_buckets", "table", "version", "n_items"],
        )

    routed = seen.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return routed.groupBy("shard_id").applyInPandas(make, schema=CUCKOO_SCHEMA)


def _lookup(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, nb: np.uint64) -> np.ndarray:
    i2 = _alt_bucket(i1, fp, nb)
    fp16 = fp.astype(np.uint16)
    hit = np.zeros(len(fp), dtype=bool)
    for s in range(SLOTS):
        hit |= table[i1.astype(np.int64), s] == fp16
        hit |= table[i2.astype(np.int64), s] == fp16
    return hit


def probe_broadcast(candidates: DataFrame, shard_rows: list, n_shards: int,
                    url_col: str = "url_canon", owned: list | None = None) -> DataFrame:
    """Adds ``maybe_seen``; shard tables travel as an ``sc.broadcast``
    (not UDF-closure bytes — closure bytes re-serialize into every task;
    a broadcast ships once per executor and python workers cache it).
    The handle is appended to ``owned`` when given (``bloom.release``)."""
    from pyspark.sql.functions import pandas_udf

    # session from the DataFrame, not getActiveSession() (None off-thread)
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast({
        "tables": {int(r["shard_id"]): bytes(r["table"]) for r in shard_rows},
        "n_buckets": int(shard_rows[0]["n_buckets"]),
    })
    if owned is not None:
        owned.append(bc)

    @pandas_udf("boolean")
    def cuckoo_maybe_seen(urls: pd.Series) -> pd.Series:
        v = bc.value
        tables = {s: np.frombuffer(b, dtype=np.uint16).reshape(-1, SLOTS)
                  for s, b in v["tables"].items()}
        nb = np.uint64(v["n_buckets"])
        fp, h1 = _fingerprints(urls)
        sid = h1 % np.uint64(n_shards)
        i1 = (h1 // np.uint64(n_shards)) % nb
        out = np.zeros(len(urls), dtype=bool)
        for s, table in tables.items():
            m = sid == np.uint64(s)
            if m.any():
                out[m] = _lookup(table, fp[m], i1[m], nb)
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", cuckoo_maybe_seen(F.col(url_col)))


def _insert_into_table(table: np.ndarray, fp: np.ndarray, i1: np.ndarray,
                       nb: np.uint64, sid: int) -> int:
    rng_state = np.uint64(0x9E3779B97F4A7C15)
    inserted = 0
    for f, b in zip(fp, i1):
        f = np.uint16(f)
        cur = int(b)
        placed = False
        for _kick in range(500):
            row = table[cur]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                table[cur, empty[0]] = f
                placed = True
                break
            rng_state = (rng_state * np.uint64(6364136223846793005)
                         + np.uint64(1442695040888963407)) & np.uint64(0xFFFFFFFFFFFFFFFF)
            slot = int(rng_state % np.uint64(SLOTS))
            f, table[cur, slot] = table[cur, slot], f
            cur = int(_alt_bucket(np.uint64(cur), np.uint64(f), nb))
        if not placed:
            raise RuntimeError(f"cuckoo shard {sid} overflow — resize")
        inserted += 1
    return inserted


def insert_urls(shards: DataFrame, urls: DataFrame, n_shards: int = 32,
                buckets_per_shard: int = 1 << 14) -> DataFrame:
    """Incremental insert (the per-window seen-delta update). Shards with
    no prior row are created fresh at ``buckets_per_shard``."""

    def apply_inserts(key, shard_pdf: pd.DataFrame, ins_pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        if shard_pdf.empty:
            table = np.zeros((buckets_per_shard, SLOTS), dtype=np.uint16)
            nb = np.uint64(buckets_per_shard)
            version, n_items = 0, 0
        else:
            row = shard_pdf.iloc[0]
            table = np.frombuffer(row["table"], dtype=np.uint16).reshape(-1, SLOTS).copy()
            nb = np.uint64(int(row["n_buckets"]))
            version, n_items = int(row["version"]), int(row["n_items"])
        if not ins_pdf.empty:
            fp, h1 = _fingerprints(ins_pdf["url_canon"])
            i1 = (h1 // np.uint64(n_shards)) % nb
            n_items += _insert_into_table(table, fp, i1, nb, sid)
        return pd.DataFrame(
            [[sid, int(nb), table.tobytes(), version + 1, n_items]],
            columns=["shard_id", "n_buckets", "table", "version", "n_items"],
        )

    routed = urls.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return (
        shards.groupBy("shard_id")
        .cogroup(routed.groupBy("shard_id"))
        .applyInPandas(apply_inserts, schema=CUCKOO_SCHEMA)
    )


FPS_SCHEMA = "shard_id int, fps binary, h1s binary"


def delta_fps(urls: DataFrame, n_shards: int = 32) -> DataFrame:
    """Per-shard (fingerprint, h1) arrays for a seen-delta — the compact
    payload the driver collects to update its held shard tables (one
    small job per window; ~10 bytes/URL)."""

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard_id"].iloc[0])
        fp, h1 = _fingerprints(pdf["url_canon"])
        return pd.DataFrame([[sid, fp.tobytes(), h1.tobytes()]],
                            columns=["shard_id", "fps", "h1s"])

    routed = urls.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return routed.groupBy("shard_id").applyInPandas(make, schema=FPS_SCHEMA)


def fps_rows_from_urls(urls, n_shards: int = 32) -> list[dict]:
    """Driver-side twin of ``delta_fps(...).collect()`` (same fingerprint
    math and h1 % n_shards routing) — lets the crawl loop fold the
    cuckoo update into its accept-stats collect, no extra Spark job."""
    import pandas as pd

    urls = pd.Series(urls)
    fp, h1 = _fingerprints(urls)
    sid = (h1 % np.uint64(n_shards)).astype(np.int64)
    rows = []
    for s in np.unique(sid):
        m = sid == s
        rows.append({"shard_id": int(s), "fps": fp[m].tobytes(),
                     "h1s": h1[m].tobytes()})
    return rows


def insert_rows(prev_rows: list | None, fps_rows: list, n_shards: int = 32,
                buckets_per_shard: int = 1 << 14) -> list:
    """Driver-side incremental insert into held shard rows (dicts) — the
    cuckoo twin of bloom.merge_rows."""
    by = {int(r["shard_id"]): dict(r) for r in (prev_rows or [])}
    for r in fps_rows:
        sid = int(r["shard_id"])
        entry = by.get(sid)
        if entry is None:
            table = np.zeros((buckets_per_shard, SLOTS), dtype=np.uint16)
            nb = np.uint64(buckets_per_shard)
            version, n_items = 0, 0
        else:
            table = np.frombuffer(entry["table"], dtype=np.uint16).reshape(-1, SLOTS).copy()
            nb = np.uint64(int(entry["n_buckets"]))
            version, n_items = int(entry["version"]), int(entry["n_items"])
        fp = np.frombuffer(r["fps"], dtype=np.uint64)
        h1 = np.frombuffer(r["h1s"], dtype=np.uint64)
        i1 = (h1 // np.uint64(n_shards)) % nb
        n_items += _insert_into_table(table, fp, i1, nb, sid)
        by[sid] = {"shard_id": sid, "n_buckets": int(nb), "table": table.tobytes(),
                   "version": version + 1, "n_items": n_items}
    return [by[k] for k in sorted(by)]


def rows_df(spark, rows: list):
    return spark.createDataFrame(
        [(int(r["shard_id"]), int(r["n_buckets"]), bytes(r["table"]),
          int(r["version"]), int(r["n_items"])) for r in rows],
        CUCKOO_SCHEMA,
    )


def dedup_new_rows(candidates: DataFrame, seen: DataFrame, shard_rows: list,
                   url_col: str = "url_canon", n_shards: int = 32,
                   *, owned: list) -> DataFrame:
    """D1 with the cuckoo arm, for driver-held shard rows (no per-window
    collect job): same routing contract and ownership as
    bloom.dedup_new_rows — negatives skip the exact anti-join."""
    if not shard_rows:
        return candidates.join(seen, on=url_col, how="left_anti")
    flagged = probe_broadcast(candidates, shard_rows, n_shards, url_col, owned)
    return route_new(flagged, seen, url_col, owned=owned)


def delete_urls(shards: DataFrame, urls: DataFrame, n_shards: int = 32) -> DataFrame:
    """Remove fingerprints for the given urls — the operation Bloom cannot
    do (re-crawl policies expiring seen-set entries). Caveat inherited
    from the structure: deleting a url whose fingerprint+bucket collide
    with another stored url removes one copy — only delete urls that were
    actually inserted. Cogrouped per shard, like the probes."""

    def apply_deletes(shard_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if shard_pdf.empty:
            return pd.DataFrame(
                columns=["shard_id", "n_buckets", "table", "version", "n_items"]
            )
        row = shard_pdf.iloc[0]
        table = np.frombuffer(row["table"], dtype=np.uint16).reshape(-1, SLOTS).copy()
        nb = np.uint64(int(row["n_buckets"]))
        removed = 0
        if not del_pdf.empty:
            fp, h1 = _fingerprints(del_pdf["url_canon"])
            i1 = (h1 // np.uint64(n_shards)) % nb
            for f, b in zip(fp, i1):
                f16 = np.uint16(f)
                for cand_b in (int(b), int(_alt_bucket(np.uint64(b), np.uint64(f), nb))):
                    slots = np.flatnonzero(table[cand_b] == f16)
                    if slots.size:
                        table[cand_b, slots[0]] = 0
                        removed += 1
                        break
        return pd.DataFrame(
            [[int(row["shard_id"]), int(row["n_buckets"]), table.tobytes(),
              int(row["version"]) + 1, int(row["n_items"]) - removed]],
            columns=["shard_id", "n_buckets", "table", "version", "n_items"],
        )

    routed = urls.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return (
        shards.groupBy("shard_id")
        .cogroup(routed.groupBy("shard_id"))
        .applyInPandas(apply_deletes, schema=CUCKOO_SCHEMA)
    )
