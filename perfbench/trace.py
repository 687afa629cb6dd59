"""Spans recorded from outside the engine, plus Spark's own records.

``Tracer.span(name)`` times one call into a layer.  While tracing is on,
every span also runs under its own Spark job group, so afterwards each
span can be joined to the jobs it caused (status tracker) and to the SQL
executions those jobs belong to (the SQL status store keeps per-operator
metrics even with the UI disabled).  Nothing is read from Spark while a
span is open: ``resolve()`` does all of it once the timed loop is over.

With tracing off ``span`` only yields, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import asdict, dataclass, field

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")

PYTHON_TIME = "time to run Python workers"
PYTHON_INIT = "time to initialize Python workers"
PYTHON_SENT = "data sent to Python workers"
PYTHON_RECV = "data returned from Python workers"
ROWS = "number of output rows"


def parse_metric(text: str | None) -> float:
    """Value of one formatted SQL metric: '1,974', '256.0 B', '52 ms',
    'total (min, med, max (...))\\n2.8 s (...)' → seconds / bytes / count."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    parts = text.strip().split(" ")
    try:
        value = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    wall: float = 0.0  # epoch seconds at start, to line up with Spark's clock
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Node:
    name: str
    metrics: dict[str, float]
    raw: dict[str, str]
    children: list[int]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._execs: dict[int, dict] | None = None
        self._nodes: dict[int, list[Node]] = {}
        self._node_ids: dict[int, dict[int, Node]] = {}
        self._stage_tasks: dict[int, int] = {}

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        sp = Span(len(self.spans), name, parent, op, time.perf_counter(),
                  wall=time.time())
        self.spans.append(sp)
        self._stack.append(sp.id)
        sc.setJobGroup(f"pb-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setJobGroup(
                f"pb-{self._stack[-1]}" if self._stack else "pb-idle", "idle"
            )

    # -- reading Spark's records (after the timed loop) ---------------------

    def resolve(self) -> None:
        """Attach job ids to spans and index SQL executions by job."""
        st = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(st.getJobIdsForGroup(f"pb-{sp.id}"))
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        self._store, self._conv = store, conv
        self._execs = {}
        for e in conv.asJava(store.executionsList()):
            jobs = [int(j) for j in conv.asJava(e.jobs().keys().toSeq())]
            done = e.completionTime()
            end = done.get().getTime() if done.isDefined() else e.submissionTime()
            self._execs[int(e.executionId())] = {
                "jobs": jobs,
                "seconds": (end - e.submissionTime()) / 1000.0,
                "submitted": e.submissionTime(),
            }

    def executions(self, span_ids) -> list[int]:
        """SQL executions whose jobs ran under any of ``span_ids`` (or
        their descendants), in submission order."""
        ids = self.subtree(span_ids)
        jobs = {j for i in ids for j in self.spans[i].jobs}
        return sorted(
            eid for eid, e in self._execs.items() if jobs & set(e["jobs"])
        )

    def subtree(self, span_ids) -> set[int]:
        out = set(span_ids)
        for sp in self.spans:
            if sp.parent in out:
                out.add(sp.id)
        return out

    def exec_seconds(self, eid: int) -> float:
        return self._execs[eid]["seconds"]

    def exec_start(self, eid: int) -> float:
        """Submission time of an execution, epoch seconds (``Span.wall``)."""
        return self._execs[eid]["submitted"] / 1000.0

    def nodes(self, eid: int) -> list[Node]:
        if eid not in self._nodes:
            conv = self._conv
            values = conv.asJava(self._store.executionMetrics(eid))
            graph = self._store.planGraph(eid)
            by_id, order = {}, []
            for n in conv.asJava(graph.allNodes()):
                raw = {}
                for m in conv.asJava(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        raw[m.name()] = v
                node = Node(
                    n.name(), {k: parse_metric(v) for k, v in raw.items()}, raw, []
                )
                by_id[int(n.id())] = node
                order.append(node)
            for e in conv.asJava(graph.edges()):
                parent = by_id.get(int(e.toId()))
                if parent is not None:
                    parent.children.append(int(e.fromId()))
            self._nodes[eid] = order
            self._node_ids[eid] = by_id
        return self._nodes[eid]

    def metric_sum(self, execs, metric: str, node_prefix: str = "") -> float:
        return sum(
            n.metrics.get(metric, 0.0)
            for eid in execs
            for n in self.nodes(eid)
            if n.name.startswith(node_prefix)
        )

    def count_nodes(self, execs, names: tuple[str, ...]) -> int:
        return sum(1 for eid in execs for n in self.nodes(eid) if n.name in names)

    def python_nodes(self, execs) -> list[tuple[int, Node]]:
        return [
            (eid, n)
            for eid in execs
            for n in self.nodes(eid)
            if PYTHON_TIME in n.metrics
        ]

    def input_rows(self, eid: int, node: Node) -> float:
        """Rows entering ``node``: output rows of the nearest descendant
        that counts them (projections between carry no row metric)."""
        by_id = self._node_ids[eid]
        todo = list(node.children)
        total = 0.0
        while todo:
            child = by_id.get(todo.pop())
            if child is None:
                continue
            if ROWS in child.metrics:
                total += child.metrics[ROWS]
            else:
                todo.extend(child.children)
        return total

    def stage_tasks(self, stage_id: int) -> int:
        if stage_id not in self._stage_tasks:
            info = self.spark.sparkContext.statusTracker().getStageInfo(stage_id)
            self._stage_tasks[stage_id] = info.numCompletedTasks if info else 0
        return self._stage_tasks[stage_id]

    def tasks(self, span_ids) -> int:
        st = self.spark.sparkContext.statusTracker()
        total = 0
        for i in self.subtree(span_ids):
            for j in self.spans[i].jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    total += sum(self.stage_tasks(s) for s in info.stageIds)
        return total

    def jobs(self, span_ids) -> int:
        return sum(len(self.spans[i].jobs) for i in self.subtree(span_ids))

    def scan_tasks(self, execs) -> int:
        """Tasks of the stages that scan files.  A scan metric aggregated
        over several tasks names the stage of its largest task; a single
        task reports a bare value."""
        total = 0
        for eid in execs:
            for n in self.nodes(eid):
                if not n.name.startswith("Scan "):
                    continue
                raw = n.raw.get("scan time") or n.raw.get(ROWS, "")
                m = _STAGE.search(raw)
                total += self.stage_tasks(int(m.group(1))) if m else 1
        return total

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(sp) for sp in self.spans], **extra}, f, indent=1
            )
