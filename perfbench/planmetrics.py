"""Spark SQL metrics read from the plans of the actions that actually ran.

A ``QueryExecutionListener`` (a Py4J callback) receives the
``QueryExecution`` of every finished action, writes included.  Reading a
fresh ``df._jdf.queryExecution()`` instead would plan the query again and
return all-zero metrics.  The walker descends through ``AdaptiveSparkPlan``
and its query stages, and from ``InMemoryTableScan`` into the cached plan,
so work done while a cache fills is not hidden behind the scan.

Every SQL metric is an accumulator with a process-unique, increasing id.
Summing over distinct ids counts a cached plan once however many actions
read it, and ``since_id`` drops work done before a point in time (a cache
built during set-up).
"""

from __future__ import annotations

from dataclasses import dataclass

_STAGE_CLASSES = {
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
}


@dataclass(frozen=True)
class Metric:
    acc_id: int
    node: str
    name: str
    kind: str
    value: float
    in_cache: bool


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _children(node):
    cls = node.getClass().getSimpleName()
    out = []
    if cls == "AdaptiveSparkPlanExec":
        out.append((node.executedPlan(), False))
    elif cls in _STAGE_CLASSES:
        out.append((node.plan(), False))
    elif cls == "InMemoryTableScanExec":
        out.append((node.relation().cachedPlan(), True))
    elif cls == "CommandResultExec":
        out.append((node.commandPhysicalPlan(), False))
    out.extend((c, False) for c in _seq(node.children()))
    out.extend((c, False) for c in _seq(node.subqueries()))
    return out


def plan_metrics(plan) -> list[Metric]:
    """Every non-zero SQL metric of a physical plan tree."""
    out: list[Metric] = []
    stack = [(plan, False)]
    while stack:
        node, in_cache = stack.pop()
        cls = node.getClass().getSimpleName()
        for kv in _seq(node.metrics()):
            m = kv._2()
            value = m.value()
            if value:
                out.append(Metric(m.id(), cls, kv._1(), m.metricType(), float(value), in_cache))
        stack.extend((c, in_cache or cached) for c, cached in _children(node))
    return out


def ms(metric: Metric) -> float:
    """A timing metric in milliseconds (``nsTiming`` counts nanoseconds)."""
    return metric.value / 1e6 if metric.kind == "nsTiming" else metric.value


class ActionRecorder:
    """Collects the ``QueryExecution`` of every action a session finishes."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._executions: list[tuple[str, object]] = []
        #: every distinct metric read so far, by accumulator id
        self.seen: dict[int, Metric] = {}
        spark._jsparkSession.listenerManager().register(self)

    # QueryExecutionListener, called on Spark's listener-bus thread.  A
    # failed action (a probe for a directory that does not exist yet) has
    # no executed plan to read.
    def onSuccess(self, func_name, qe, duration_ns):
        self._executions.append((func_name, qe))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def next_accumulator_id(self) -> int:
        """An id no metric created so far can have."""
        return self._spark.sparkContext._jsc.sc().longAccumulator().id()

    def take(self) -> list[tuple[str, object]]:
        """Wait for pending listener events, then hand over (and forget) the
        executions recorded since the last call."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        taken, self._executions = self._executions, []
        return taken

    def metrics(self, since_id: int = 0) -> list[Metric]:
        """Distinct metrics of the executions since the last call, newer
        than ``since_id``; all of them are also kept in ``seen``."""
        new: dict[int, Metric] = {}
        for _, qe in self.take():
            for m in plan_metrics(qe.executedPlan()):
                if m.acc_id > since_id:
                    new[m.acc_id] = m
        self.seen.update(new)
        return list(new.values())


def total(metrics: list[Metric], name: str, node: str | None = None, timing: bool = False) -> float:
    return sum(
        ms(m) if timing else m.value
        for m in metrics
        if m.name == name and (node is None or m.node == node)
    )
