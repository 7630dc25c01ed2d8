"""Plan shape of the seen prefilter inside the crawl loop: the probe UDF
is evaluated in exactly one plan node per window (its flagged frame is
cached once and both routing branches read it), and the loop releases
that cache when it is done with it.

A node is identified the way Spark's SQL status store shows it: a cached
subtree is drawn under every scan that reads it, with the same metric
accumulators, so nodes are deduplicated by their smallest accumulator id.
"""

import time
from collections import defaultdict

import pytest

from news_crawler_spark.plans.crawl import run_crawl
from news_crawler_spark.sources.store import SnapshotStore


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _probe_nodes(spark, after_execution: int) -> dict[int, set[int]]:
    """Distinct probe UDF nodes of the SQL executions after the mark:
    smallest accumulator id → ids of the executions that draw it."""
    sql = spark._jsparkSession.sharedState().statusStore()
    nodes: dict[int, set[int]] = defaultdict(set)
    for e in _seq(sql.executionsList()):
        if e.executionId() <= after_execution:
            continue
        for n in _seq(sql.planGraph(e.executionId()).allNodes()):
            if n.name() == "ArrowEvalPython" and "_maybe_seen(" in n.desc():
                key = min(m.accumulatorId() for m in _seq(n.metrics()))
                nodes[key].add(e.executionId())
    return nodes


def _cached_probe_rdds(spark) -> list[str]:
    """Names of cached RDDs holding a probe's flagged frame (an in-memory
    relation is named after its physical plan)."""
    return [r.name() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if "_maybe_seen(" in r.name()]


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_probe_evaluated_once_per_window_and_released(spark, world, tmp_path,
                                                      seen_filter):
    sql = spark._jsparkSession.sharedState().statusStore()
    mark = max((e.executionId() for e in _seq(sql.executionsList())), default=-1)
    res = run_crawl(spark, world, SnapshotStore(str(tmp_path / "store")),
                    seen_filter=seen_filter, n_bloom_shards=8,
                    pages_per_batch=1, max_batches=3)
    assert res.batches == 3

    # window 1 has no seen set yet; every later window probes in ONE node
    nodes = _probe_nodes(spark, mark)
    assert len(nodes) == res.batches - 1, dict(nodes)
    per_execution = defaultdict(set)
    for key, execs in nodes.items():
        for eid in execs:
            per_execution[eid].add(key)
    assert all(len(keys) == 1 for keys in per_execution.values()), dict(per_execution)

    # every window's flagged cache was released (block removal is async)
    deadline = time.time() + 30
    while _cached_probe_rdds(spark) and time.time() < deadline:
        time.sleep(0.5)
    assert _cached_probe_rdds(spark) == []
