"""Bloom shard prefilter: never a false negative (exactness — SURVEY
§7.3 'Bloom ∧ exactness'), OR-merge idempotence, and routing stats."""

from pyspark.sql import functions as F

from news_crawler_spark.operators import bloom


def _urls(prefix, n):
    return [(f"https://example.com/{prefix}/{i}",) for i in range(n)]


def test_no_false_negatives_and_routing(spark):
    seen = spark.createDataFrame(_urls("seen", 500), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=8, n_bits=1 << 14)
    cand = spark.createDataFrame(_urls("seen", 500) + _urls("new", 500), "url_canon string")
    flagged = bloom.probe(cand, shards, n_shards=8)
    rows = flagged.collect()
    for r in rows:
        if "/seen/" in r.url_canon:
            assert r.maybe_seen, f"false negative: {r.url_canon}"
    # the filter must prune most definitely-new urls (fp rate sanity)
    fp = sum(1 for r in rows if "/new/" in r.url_canon and r.maybe_seen)
    assert fp < 50


def test_dedup_new_exact(spark):
    seen = spark.createDataFrame(_urls("seen", 300), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=8, n_bits=1 << 14)
    cand = spark.createDataFrame(_urls("seen", 300) + _urls("new", 300), "url_canon string")
    owned = []
    out = {r.url_canon
           for r in bloom.dedup_new(cand, seen, shards, n_shards=8, owned=owned).collect()}
    bloom.release(owned)
    assert out == {u for (u,) in _urls("new", 300)}


def test_merge_shards_idempotent():
    a = bloom.rows_from_urls([u for (u,) in _urls("a", 100)], n_shards=4, n_bits=1 << 12)
    b = bloom.rows_from_urls([u for (u,) in _urls("b", 100)], n_shards=4, n_bits=1 << 12)
    ab = bloom.merge_rows(a, b)
    ab2 = bloom.merge_rows(ab, b)  # re-merging the same delta: no-op
    m1 = {r["shard_id"]: r["bits"] for r in ab}
    m2 = {r["shard_id"]: r["bits"] for r in ab2}
    assert m1 == m2


def test_shard_routing_matches_python_hash(spark):
    df = spark.createDataFrame(_urls("x", 200), "url_canon string")
    got = df.select("url_canon", bloom.shard_id_col(F.col("url_canon"), 32).alias("sid")).collect()
    import hashlib

    for r in got:
        h1 = int.from_bytes(hashlib.md5(r.url_canon.encode()).digest()[:8], "big")
        assert r.sid == h1 % 32


def test_probe_broadcast_owner_lifecycle(spark):
    # probe_broadcast hands its sc.broadcast handle to the caller's owned
    # list (the crawl loop releases it after wait_commit); release must
    # destroy a LIVE handle, and a fresh probe afterwards mints a new
    # working broadcast (destroyed handles are never reused)
    seen = spark.createDataFrame(_urls("seen", 20), "url_canon string")
    shard_rows = bloom.build_shards(seen, n_shards=4, n_bits=1 << 12).collect()
    cand = spark.createDataFrame(_urls("seen", 20) + _urls("new", 20), "url_canon string")

    owned = []
    flagged = bloom.probe_broadcast(cand, shard_rows, n_shards=4, owned=owned)
    assert len(owned) == 1
    bc = owned[0]
    assert bc._jbroadcast.isValid()  # live while the plan is
    assert flagged.filter(F.col("maybe_seen")).count() >= 20

    del flagged
    bloom.release(owned)
    assert not bc._jbroadcast.isValid()  # destroy() ran on the live handle

    owned = []
    out = {r.url_canon
           for r in bloom.dedup_new_rows(cand, seen, shard_rows, n_shards=4,
                                         owned=owned).collect()}
    assert out == {u for (u,) in _urls("new", 20)}
    # the routed plan owns one cached flagged frame and one fresh broadcast
    assert len(owned) == 2 and owned[0] is not bc
    bloom.release(owned)


def test_broadcast_probe_with_empty_shards(spark):
    # only 3 urls → most of the 32 configured shards have no committed row;
    # routing must still use the configured modulus (regression: a probe
    # keyed on len(present_shards) mis-routes and yields false negatives)
    seen = spark.createDataFrame(_urls("seen", 3), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=32, n_bits=1 << 12)
    assert shards.count() <= 3
    cand = spark.createDataFrame(_urls("seen", 3) + _urls("new", 50), "url_canon string")
    owned = []
    out = {r.url_canon
           for r in bloom.dedup_new(cand, seen, shards, n_shards=32, owned=owned).collect()}
    bloom.release(owned)
    assert out == {u for (u,) in _urls("new", 50)}
