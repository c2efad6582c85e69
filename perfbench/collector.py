"""Per-operator and per-stage metrics from Spark's in-process status store.

The SQL status store (``spark._jsparkSession.sharedState().statusStore()``)
and the application status store (``sparkContext.statusStore()``) are
filled by listeners whether or not the UI runs, so this works with
``spark.ui.enabled=false``. The listeners are asynchronous: an execution
is read only after its ``completionTime`` is set.

One py4j round trip per execution fetches the whole annotated plan as
the DOT text Spark renders for its UI (``SparkPlanGraph.makeDotFile``);
:func:`parse_dot` turns it into nodes with parsed metric values. Stage
task metrics come from ``lastStageAttempt``.

:class:`Spans` keeps spans in memory and writes them as JSON at the end.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field

_NODE_RE = re.compile(
    r'^\s*(\d+) \[id="node\d+" labelType="html" label="((?:[^"\\]|\\.)*)" '
    r'tooltip="((?:[^"\\]|\\.)*)"\];\s*$',
    re.M,
)
_TOTAL = " total (min, med, max (stageId: taskId))"
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)\)$")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "PiB": 1 << 50, "EiB": 1 << 60,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_value(text: str) -> float:
    """A formatted SQL metric value in base units: bytes, seconds or a
    count (``"393.1 KiB"``, ``"1.6 s"``, ``"100,000"``)."""
    head = text.split(" (", 1)[0].strip()
    parts = head.split(" ")
    number = float(parts[0].replace(",", ""))
    return number * _UNITS[parts[1]] if len(parts) > 1 else number


def _unescape(s: str) -> str:
    return s.replace('\\"', '"').replace("\\n", "\n").replace("\\\\", "\\")


@dataclass
class Node:
    name: str
    desc: str
    metrics: "dict[str, float]" = field(default_factory=dict)
    #: stage that holds the max task of a metric with a per-task breakdown
    stages: "dict[str, int]" = field(default_factory=dict)


def parse_dot(dot: str) -> "list[Node]":
    """Nodes of a ``makeDotFile`` rendering, with every metric parsed."""
    nodes: list[Node] = []
    for match in _NODE_RE.finditer(dot):
        label, desc = _unescape(match.group(2)), _unescape(match.group(3))
        lines = [x for x in label.split("<br>") if x]
        name = re.sub(r"</?b>", "", lines[0]).strip()
        node = Node(name, desc)
        i = 1
        while i < len(lines):
            line = lines[i]
            if line.endswith(_TOTAL) and i + 1 < len(lines):
                metric, value = line[: -len(_TOTAL)], lines[i + 1]
                stage = _STAGE_RE.search(value)
                if stage:
                    node.stages[metric] = int(stage.group(1))
                i += 2
            else:
                metric, _, value = line.partition(": ")
                i += 1
            try:
                node.metrics[metric] = node.metrics.get(metric, 0.0) + parse_value(value)
            except (ValueError, KeyError, IndexError):
                pass  # a non-numeric metric (none are read here)
        nodes.append(node)
    return nodes


@dataclass
class Stage:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    fetch_wait_s: float
    spill_bytes: int
    input_bytes: int


@dataclass
class Execution:
    execution_id: int
    start: float  # epoch seconds
    end: float
    nodes: "list[Node]"
    stage_ids: "list[int]"

    @property
    def duration(self) -> float:
        return self.end - self.start

    def metric(self, name: str, node_name: "str | None" = None) -> float:
        """Sum of one metric over the plan's nodes (optionally of one
        operator kind, matched by name prefix)."""
        return sum(
            n.metrics.get(name, 0.0)
            for n in self.nodes
            if node_name is None or n.name.startswith(node_name)
        )

    def written_paths(self) -> "list[str]":
        return [
            n.desc.split(" ", 2)[2].split(",", 1)[0]
            for n in self.nodes
            if n.name == "Execute InsertIntoHadoopFsRelationCommand"
        ]

    def scanned(self) -> "list[Node]":
        return [n for n in self.nodes if n.name.startswith("Scan ")]

    @property
    def is_write(self) -> bool:
        return any(
            n.name.startswith(("Execute InsertInto", "OverwriteByExpression", "AppendData"))
            for n in self.nodes
        )


class StatusStoreCollector:
    """Reads executions and stages that completed after a mark."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def mark(self) -> int:
        """Id of the newest execution so far (-1 when there is none)."""
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def executions_since(self, mark: int) -> "list[Execution]":
        """Every execution with an id above ``mark``, each read after it
        completed; oldest first."""
        self._bus.waitUntilEmpty()
        deadline = time.monotonic() + 30.0
        while True:
            n = int(self._sql.executionsCount())
            newest = self.mark()
            count = min(n, max(0, newest - mark))
            batch = self._sql.executionsList(n - count, count) if count else None
            datas = [batch.apply(i) for i in range(count)]
            datas = [d for d in datas if d.executionId() > mark]
            if all(d.completionTime().isDefined() for d in datas):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("status store did not record execution completion")
            time.sleep(0.02)
        out = []
        for d in datas:
            eid = d.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            stages = [int(s) for s in re.findall(r"\d+", d.stages().toString())]
            out.append(
                Execution(
                    execution_id=eid,
                    start=d.submissionTime() / 1000.0,
                    end=d.completionTime().get().getTime() / 1000.0,
                    nodes=parse_dot(dot),
                    stage_ids=sorted(stages),
                )
            )
        return out

    def stages(self, stage_ids: "list[int]") -> "list[Stage]":
        from py4j.protocol import Py4JJavaError

        out = []
        for sid in sorted(set(stage_ids)):
            try:
                s = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store or never submitted
                continue
            out.append(
                Stage(
                    stage_id=sid,
                    tasks=int(s.numCompleteTasks()),
                    run_s=s.executorRunTime() / 1e3,
                    cpu_s=s.executorCpuTime() / 1e9,
                    gc_s=s.jvmGcTime() / 1e3,
                    fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                    spill_bytes=int(s.memoryBytesSpilled() + s.diskBytesSpilled()),
                    input_bytes=int(s.inputBytes()),
                )
            )
        return out


def python_boundary(executions: "list[Execution]") -> "dict[str, float]":
    """The Arrow/Python UDF boundary summed over the executions."""
    ev = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")

    def total(name: str) -> float:
        return sum(e.metric(name, n) for e in executions for n in ev)

    return {
        "python_run_s": total("time to run Python workers"),
        "python_start_s": total("time to start Python workers")
        + total("time to initialize Python workers"),
        "bytes_to_python": total("data sent to Python workers"),
        "bytes_from_python": total("data returned from Python workers"),
        "rows_to_python": total("number of output rows"),
    }


def shuffle_files(executions: "list[Execution]", stages: "list[Stage]") -> int:
    """Shuffle files created: map tasks x reducers, per exchange. The map
    stage of an exchange is the one its per-task write metrics name."""
    tasks = {s.stage_id: s.tasks for s in stages}
    files = 0
    for e in executions:
        for n in e.nodes:
            if n.name != "Exchange":
                continue
            sid = n.stages.get("shuffle bytes written", n.stages.get("shuffle write time"))
            if sid is not None:
                files += tasks.get(sid, 0) * int(n.metrics.get("number of partitions", 0))
    return files


def engine_totals(stages: "list[Stage]") -> "dict[str, float]":
    return {
        "executor_run_s": sum(s.run_s for s in stages),
        "executor_cpu_s": sum(s.cpu_s for s in stages),
        "gc_s": sum(s.gc_s for s in stages),
        "shuffle_fetch_wait_s": sum(s.fetch_wait_s for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "tasks": sum(s.tasks for s in stages),
    }


class Spans:
    """In-memory spans: name, start, end, parent, one trace id per run."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self._spans: list[dict] = []

    def add(self, name: str, start: float, end: float, *, parent: "int | None" = None,
            **attrs) -> int:
        self._spans.append({
            "id": len(self._spans), "trace_id": self.trace_id, "name": name,
            "start": start, "end": end, "parent": parent, "attrs": attrs,
        })
        return len(self._spans) - 1

    def span(self, name: str, *, parent: "int | None" = None, **attrs) -> "_Open":
        return _Open(self, name, parent, attrs)

    def add_executions(self, executions: "list[Execution]", parent: int, phase) -> None:
        """One child span per Spark SQL execution, named by its ``phase``."""
        for e in executions:
            self.add(
                f"spark.execution.{phase(e)}", e.start, e.end, parent=parent,
                execution_id=e.execution_id, stages=e.stage_ids,
                writes=e.written_paths(),
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self._spans, f)


class _Open:
    def __init__(self, spans: Spans, name: str, parent, attrs):
        self._spans, self._name, self._parent, self._attrs = spans, name, parent, attrs
        self.id: "int | None" = None

    def __enter__(self) -> "_Open":
        self._start = time.time()
        self.id = self._spans.add(self._name, self._start, self._start,
                                  parent=self._parent, **self._attrs)
        return self

    def __exit__(self, *exc) -> None:
        self._spans._spans[self.id]["end"] = time.time()
