"""Per-layer attribution of one crawl, read from outside the engine.

Three sources, none of which needs an engine change:

* the crawl loop's own stage clock (``CrawlResult.per_batch[*].wall_ms``
  and ``prelude_s``) → ``crawl.*``;
* Spark's application status store (jobs, stages) → ``spark.*``;
* Spark's SQL status store: every physical plan node of every query the
  crawl ran, with its SQL metrics, mapped to a layer by node and UDF
  name → ``parse.*``, ``relevance.*``, ``bloom.*``, ``fuzzy.*``,
  ``store.*``, ``python.*``.

SQL metric values reach Python as Spark's display strings ("13.9 s",
"110.8 KiB", "1,234": 0.1 s and three significant digits per node),
except those ``AccumulatorPin`` holds, which are exact. A cached subtree
shows up in every query that scans it; nodes are deduplicated by
accumulator id.
"""

from __future__ import annotations

import re
import threading
from collections import defaultdict
from dataclasses import dataclass

# top-level stage clocks of one window, in loop order; they partition the
# window wall except for untimed glue between them (``crawl.unclocked_ms``)
STAGES = ("compact", "due_build", "pregate_materialize", "stats1", "stop_replay",
          "dag_build", "stats2", "prep", "commit_wait", "commit_submit")


@dataclass
class Marks:
    """Status-store high-water marks: the last job id and the last SQL
    execution id at the moment they are taken."""
    job: int
    execution: int


def _jvm_list(spark):
    return spark.sparkContext._jvm.java.util.ArrayList()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def marks(spark) -> Marks:
    app = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j.jobId() for j in _seq(app.jobsList(_jvm_list(spark)))]
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = [e.executionId() for e in _seq(sql.executionsList())]
    return Marks(max(jobs, default=-1), max(execs, default=-1))


# ------------------------------------------------------------ stage clock

def stage_clock(res) -> tuple[dict[str, float], list[str]]:
    """``crawl.*`` sums from the returned stage clock, plus the windows
    whose clocks do not reconcile with their ``window_total``."""
    out = {f"crawl.{s}_ms": 0.0 for s in STAGES}
    out["crawl.unclocked_ms"] = 0.0
    bad = []
    for b in res.per_batch:
        w = b["wall_ms"]
        clocked = sum(w.get(s, 0) for s in STAGES)
        for s in STAGES:
            out[f"crawl.{s}_ms"] += w.get(s, 0)
        # each clock truncates to whole ms, so the sum may exceed the
        # total by at most one ms per stage
        if clocked > w["window_total"] + len(STAGES):
            bad.append(f"window {b['batch']}: stages {clocked} ms > total "
                       f"{w['window_total']} ms")
        out["crawl.unclocked_ms"] += max(0, w["window_total"] - clocked)
    # the lazy checkpoint's clock; the work it defers lands in stats1
    out["crawl.pregate_ms"] = out.pop("crawl.pregate_materialize_ms")
    out["crawl.windows"] = float(len(res.per_batch))
    out["crawl.window_total_ms"] = float(sum(b["wall_ms"]["window_total"]
                                             for b in res.per_batch))
    out["crawl.prelude_ms"] = res.prelude_s * 1000
    out["crawl.max_union_depth"] = float(res.max_union_depth)
    out["bucketed.compactions"] = float(res.compactions)
    return out, bad


# ------------------------------------------------------------ app store

def spark_jobs(spark, mark: Marks, end: Marks, t0_ms: float, t1_ms: float,
               cores: int) -> dict:
    """Job/stage/task accounting of the jobs submitted between the marks."""
    app = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j for j in _seq(app.jobsList(_jvm_list(spark)))
            if mark.job < j.jobId() <= end.job]
    spans = []
    stage_ids: set[int] = set()
    for j in jobs:
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None:
            spans.append((sub.getTime(), done.getTime() if done is not None else t1_ms))
        stage_ids.update(_seq(j.stageIds()))
    gw = spark.sparkContext._gateway
    stages = [s for s in _seq(app.stageList(_jvm_list(spark), False, False,
                                            gw.new_array(gw.jvm.double, 0),
                                            _jvm_list(spark)))
              if s.stageId() in stage_ids and s.status().toString() != "SKIPPED"]
    wall_ms = t1_ms - t0_ms
    task_ms = float(sum(s.executorRunTime() for s in stages))
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s.numCompleteTasks() + s.numFailedTasks() for s in stages)),
        "spark.task_ms": task_ms,
        "spark.gc_ms": float(sum(s.jvmGcTime() for s in stages)),
        "spark.pool_util": task_ms / (wall_ms * cores),
        "spark.pool_idle_ms": wall_ms - _covered(spans, t0_ms, t1_ms),
        "spark.shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
        "spark.spill_bytes": float(sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                                       for s in stages)),
    }


def _covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the spans, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ------------------------------------------------------------ SQL store

_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
         "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
_NUM = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")


def metric_value(text: str | None) -> float:
    """A SQL metric display string as a number: bytes, ms or a count.
    Aggregated metrics read "total (min, med, max ...)\\n<total> (...)"."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)


def layer_of(name: str, desc: str) -> str | None:
    if name == "MapInPandas":
        return "parse"
    if name == "ArrowEvalPython":
        if "bloom_maybe_seen" in desc:
            return "bloom"
        if "relevance_" in desc:
            return "relevance"
    if name == "FlatMapGroupsInPandas" and "replay(" in desc:
        return "fuzzy"
    if "InsertIntoHadoopFsRelationCommand" in name:
        return "store"
    return None



_PY_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas", "BatchEvalPython")


def operator_nodes(graph):
    """(node, {metric name: SQLPlanMetric}, [input-row metrics]) for every
    Python and write node of a plan graph. A node's input rows are the
    output rows of its nearest descendants that count them."""
    children: dict[int, list[int]] = defaultdict(list)
    for edge in _seq(graph.edges()):
        children[edge.toId()].append(edge.fromId())
    by_id = {n.id(): n for n in _seq(graph.allNodes())}
    for nid, n in by_id.items():
        name = n.name()
        if name not in _PY_NODES and "InsertInto" not in name:
            continue
        metrics = {m.name(): m for m in _seq(n.metrics())}
        if not metrics:
            continue
        rows_in, todo = [], list(children[nid])
        while todo:
            c = todo.pop()
            cm = {m.name(): m for m in _seq(by_id[c].metrics())} if c in by_id else {}
            if "number of output rows" in cm:
                rows_in.append(cm["number of output rows"])
            else:
                todo.extend(children[c])
        yield n, metrics, rows_in


class AccumulatorPin:
    """Holds a strong reference to the metric accumulators of the Python
    and write nodes of every lazily checkpointed plan the traced crawl
    creates, from the moment the checkpoint registers.

    Such a plan (the crawl's ``pregate`` and ``docs``) registers its nodes
    with the ``localCheckpoint`` query, but its tasks run under whichever
    later query first reads it, so the status store never aggregates
    their values. The driver-side accumulators hold them exactly, but
    only while the plan is alive (a JVM GC after the crawl drops them);
    pinning them lets the harvest read them after the crawl. This polling
    is the traced run's cost during the crawl (``trace.overhead_frac``).
    """

    def __init__(self, spark, mark: Marks, interval_s: float = 0.5):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._live = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
        self._done = int(self._sql.executionsCount())
        self._mark = mark
        self.held: dict[int, object] = {}
        self._stop = threading.Event()
        self._interval_s = interval_s
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        n = int(self._sql.executionsCount())
        if n <= self._done:
            return
        for e in _seq(self._sql.executionsList(self._done, n - self._done)):
            if (e.executionId() <= self._mark.execution
                    or not e.description().startswith("localCheckpoint")):
                continue
            for _node, metrics, rows_in in operator_nodes(
                    self._sql.planGraph(e.executionId())):
                for m in list(metrics.values()) + rows_in:
                    acc = m.accumulatorId()
                    ref = self._live.get(acc)
                    if acc not in self.held and ref.isDefined():
                        self.held[acc] = ref.get()
        self._done = n

    def _run(self) -> None:
        while not self._stop.wait(self._interval_s):
            self._poll()

    def __enter__(self) -> "AccumulatorPin":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


def sql_layers(spark, mark: Marks, end: Marks, windows: int, pin: AccumulatorPin) -> dict:
    """Per-layer operator metrics from the SQL executions between the marks:
    each metric from its pinned accumulator (exact), else from the status
    store's display string. A cached subtree shows up in every query that
    scans it; a node is identified by its smallest accumulator id."""
    sql = spark._jsparkSession.sharedState().statusStore()

    def value(m, shown) -> float:
        acc = m.accumulatorId()
        if acc in pin.held:
            raw = max(0, pin.held[acc].value())
            return raw / 1e6 if m.metricType() == "nsTiming" else float(raw)
        return metric_value(_opt(shown.get(acc)))

    nodes: dict[int, tuple[str, str, dict[str, float], float]] = {}
    for e in _seq(sql.executionsList()):
        eid = e.executionId()
        if not mark.execution < eid <= end.execution:
            continue
        shown = sql.executionMetrics(eid)
        for n, metrics, rows_in in operator_nodes(sql.planGraph(eid)):
            key = min(m.accumulatorId() for m in metrics.values())
            if key not in nodes:
                nodes[key] = (n.name(), n.desc(),
                              {k: value(m, shown) for k, m in metrics.items()},
                              sum(value(m, shown) for m in rows_in))

    out = defaultdict(float)
    bloom_nodes = 0
    for name, desc, metrics, fed in nodes.values():
        def val(metric: str) -> float:
            return metrics.get(metric, 0.0)

        if name in _PY_NODES:
            out["python.init_ms"] += val("time to initialize Python workers")
            out["python.start_ms"] += val("time to start Python workers")
            out["python.run_ms"] += val("time to run Python workers")
        layer = layer_of(name, desc)
        if layer is None:
            continue
        if layer == "parse":
            out["parse.pages_in"] += fed
            out["parse.items_out"] += val("number of output rows")
            out["parse.python_ms"] += val("time to run Python workers")
            out["parse.bytes_to_python"] += val("data sent to Python workers")
        elif layer == "relevance":
            out["relevance.rows"] += val("number of output rows")
            out["relevance.python_ms"] += val("time to run Python workers")
        elif layer == "bloom":
            bloom_nodes += 1
            out["bloom.rows_probed"] += val("number of output rows")
            out["bloom.python_ms"] += val("time to run Python workers")
        elif layer == "fuzzy":
            out["fuzzy.rows_in"] += fed
            out["fuzzy.python_ms"] += val("time to run Python workers")
        elif layer == "store":
            out["store.write_jobs"] += 1
            out["store.files_written"] += val("number of written files")
            out["store.bytes_written"] += val("written output")
            out["store.job_commit_ms"] += val("job commit time")
    out["bloom.udf_nodes"] = bloom_nodes / max(1, windows)
    for k in ("parse.pages_in", "parse.items_out", "parse.python_ms",
              "parse.bytes_to_python", "relevance.rows", "relevance.python_ms",
              "bloom.rows_probed", "bloom.python_ms", "fuzzy.rows_in",
              "fuzzy.python_ms", "store.write_jobs", "store.files_written",
              "store.bytes_written", "store.job_commit_ms", "python.init_ms",
              "python.start_ms", "python.run_ms"):
        out.setdefault(k, 0.0)
    return dict(out)
