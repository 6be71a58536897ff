"""Per-op Spark execution metrics read from the SQL status store.

Spark keeps, for every SQL execution, the executed plan graph and each
operator metric as the string its UI would print.
``StatusStoreReader.since(mark)`` reads every execution started after
``mark`` and sums the operator metrics into the benchmark's per-layer
names; ``parse_metric`` turns one printed value into a number (ms, bytes
or a count).
"""

from __future__ import annotations

import hashlib
import re

_UNIT = {
    "ns": 1e-6,
    "ms": 1.0,
    "s": 1e3,
    "m": 60e3,
    "h": 3600e3,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Number in the metric's base unit (ms for timings, bytes for sizes,
    the count otherwise) from a status-store string. Handles the plain
    forms (``2.6 s``, ``378.4 KiB``, ``17,150``) and the per-task form
    ``total (min, med, max (stageId: taskId))\\n372 ms (23 ms, ...)``, whose
    total is the first value of its second line."""
    line = text.split("\n", 1)[1] if text.startswith("total (") else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNIT:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return number * _UNIT.get(unit, 1.0)


# (operator-name prefix, status-store metric name) -> per-layer metric
_OPERATOR_METRICS = {
    ("Scan", "scan time"): "scan.time_ms",
    ("Scan", "size of files read"): "scan.bytes",
    ("Scan", "number of files read"): "scan.files",
    ("Exchange", "shuffle write time"): "shuffle.write_ms",
    ("Exchange", "shuffle bytes written"): "shuffle.bytes",
    ("Exchange", "fetch wait time"): "shuffle.fetch_wait_ms",
    ("HashAggregate", "time in aggregation build"): "agg.build_ms",
    ("HashAggregate", "spill size"): "agg.spill_bytes",
    ("ObjectHashAggregate", "spill size"): "agg.spill_bytes",
    ("SortAggregate", "spill size"): "agg.spill_bytes",
    ("BroadcastExchange", "time to build"): "join.broadcast_build_ms",
    ("BroadcastExchange", "time to collect"): "join.broadcast_collect_ms",
    ("", "time to start Python workers"): "python.start_ms",
    ("", "time to initialize Python workers"): "python.init_ms",
    ("", "time to run Python workers"): "python.run_ms",
    ("", "data sent to Python workers"): "python.bytes_sent",
    ("", "data returned from Python workers"): "python.bytes_returned",
}
OPERATOR_METRICS = sorted(set(_OPERATOR_METRICS.values()))
COUNT_METRICS = ["spark.jobs", "spark.tasks", "plan.exchanges", "plan.python_nodes"]
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow(?!FileFormat)")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),\w+\)")
_EDGE = re.compile(r"SparkPlanGraphEdge\((\d+),(\d+)\)")
_MAP_KEY = re.compile(r"(?:^|, )(\d+) -> ")


def parse_scala_map(text: str) -> dict[int, str]:
    """``{accumulator id: value}`` from a printed Scala ``Map[Long, String]``
    such as ``HashMap(56 -> 0, 42 -> 2.6 s)``. A value never contains
    ``", <digits> -> "``, so that sequence delimits entries."""
    body = text[text.index("(") + 1 : text.rindex(")")]
    parts = _MAP_KEY.split(body)
    return {int(k): v for k, v in zip(parts[1::2], parts[2::2])}


def operator_metric(node_name: str, metric_name: str) -> str | None:
    for (prefix, name), key in _OPERATOR_METRICS.items():
        if metric_name == name and node_name.startswith(prefix):
            return key
    return None


def plan_fingerprint(names: dict[int, str], edges: list[tuple[int, int]]) -> str:
    """Hash of the operator-name tree: ``names`` maps node id to operator
    name, ``edges`` are (child, parent) pairs. Children are serialized in
    sorted order, so the hash depends on the tree, not on node ids."""
    children: dict[int, list[int]] = {}
    has_parent = set()
    for child, parent in edges:
        children.setdefault(parent, []).append(child)
        has_parent.add(child)

    def ser(node: int) -> str:
        kids = sorted(ser(c) for c in children.get(node, []))
        return names[node].strip() + ("(" + ",".join(kids) + ")" if kids else "")

    roots = sorted(ser(n) for n in names if n not in has_parent)
    return hashlib.sha1("|".join(roots).encode()).hexdigest()[:12]


def combine_fingerprints(fps: list[str]) -> str:
    """One fingerprint for an op that ran several executions; order-free,
    because writes run some of their jobs concurrently."""
    return hashlib.sha1(",".join(sorted(fps)).encode()).hexdigest()[:12]


class StatusStoreReader:
    """Reads finished executions from ``spark``'s SQL status store."""

    def __init__(self, spark):
        jss = spark._jsparkSession  # noqa: SLF001
        self._store = jss.sharedState().statusStore()
        self._bus = jss.sparkContext().listenerBus()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
        self._tracker = spark.sparkContext.statusTracker()

    def mark(self) -> int:
        self._bus.waitUntilEmpty(30_000)
        return int(self._store.executionsCount())

    def since(self, mark: int) -> tuple[list[int], dict[str, float], str]:
        """(execution ids, summed per-layer metrics, plan fingerprint) of
        every execution started after ``mark``."""
        end = self.mark()
        totals = dict.fromkeys(OPERATOR_METRICS + COUNT_METRICS, 0.0)
        ids, fps = [], []
        if end == mark:
            return ids, totals, ""
        for e in self._conv.asJava(self._store.executionsList(mark, end - mark)):
            eid = int(e.executionId())
            ids.append(eid)
            fps.append(self._read_execution(eid, totals))
            totals["spark.jobs"] += e.jobs().size()
            for sid in re.findall(r"\d+", e.stages().toString()):
                info = self._tracker.getStageInfo(int(sid))
                if info is not None:
                    totals["spark.tasks"] += info.numTasks
        return ids, totals, combine_fingerprints(fps) if fps else ""

    def _read_execution(self, eid: int, totals: dict[str, float]) -> str:
        # one py4j round trip per node, not per metric: the Scala
        # collections are read through their printed form
        values = parse_scala_map(self._store.executionMetrics(eid).toString())
        graph = self._store.planGraph(eid)
        names: dict[int, str] = {}
        for node in self._conv.asJava(graph.allNodes()):
            name = node.name()
            if name.startswith("WholeStageCodegen"):
                continue  # codegen clusters wrap operators, they are not ones
            names[int(node.id())] = name
            if name.endswith("Exchange"):
                totals["plan.exchanges"] += 1
            if _PYTHON_NODE.search(name):
                totals["plan.python_nodes"] += 1
            for metric, acc_id in _PLAN_METRIC.findall(node.metrics().toString()):
                key = operator_metric(name, metric)
                if key and int(acc_id) in values:
                    totals[key] += parse_metric(values[int(acc_id)])
        edges = [(int(a), int(b)) for a, b in _EDGE.findall(graph.edges().toString())]
        return plan_fingerprint(names, edges)
