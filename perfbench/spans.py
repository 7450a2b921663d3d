"""Span recording and Spark-side counters for the traced run.

Spans are taken in the benchmark around its calls into ``kwage_spark``;
they stay in memory (one list per run) and are written out once at the
end. Spark counters come from the SQL status store (per-node metrics of
every SQL execution an op started) and the job group the op ran under.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    layer: str       # module of the call, e.g. "sources.store"
    name: str        # public function or action, e.g. "write_sketch_store"
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when ``enabled``; a no-op context otherwise,
    so the untraced run pays one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        ix = len(self.spans)
        self.spans.append(Span(layer, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(ix)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[ix].end = time.perf_counter()

    def op_breakdown(self, op: str) -> dict:
        """Self time per layer within ``op``'s root span, the share of the
        root's wall time no layer span covers, and the root's duration."""
        ixs = [i for i, s in enumerate(self.spans) if s.op == op]
        root = next(i for i in ixs if self.spans[i].parent is None)
        child_time: dict[int, float] = {}
        for i in ixs:
            p = self.spans[i].parent
            if p is not None:
                child_time[p] = child_time.get(p, 0.0) + self.spans[i].dur
        self_by_layer: dict[str, float] = {}
        for i in ixs:
            if i != root:
                s = self.spans[i]
                self_by_layer[s.layer] = (self_by_layer.get(s.layer, 0.0)
                                          + s.dur - child_time.get(i, 0.0))
        wall = self.spans[root].dur
        return {"wall_s": wall, "self_s": self_by_layer,
                "uncovered_share": (wall - child_time.get(root, 0.0)) / wall}


# SQL metric names (as Spark 4 labels them) -> benchmark counter names
_SQL_METRICS = {
    "time to start Python workers": "python_init_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_exec_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "shuffle bytes written": "shuffle_bytes",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric ('8,000', '1.2 s', 'total (min, med,
    max ...)\\n63.1 MiB (...)') -> bytes, seconds or a plain count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Per-op Spark counters: jobs of the op's job group, plus SQL metrics
    summed over every SQL execution that started between ``begin`` and
    ``end``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._mark = 0
        self._group = ""

    def begin(self, group: str) -> None:
        self._bus.waitUntilEmpty()
        self._mark = int(self.store.executionsCount())
        self._group = group
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(set(_SQL_METRICS.values()), 0.0)
        out["jobs"] = float(len(self.sc.statusTracker().getJobIdsForGroup(self._group)))
        out["python_rows_in"] = 0.0
        n = int(self.store.executionsCount()) - self._mark
        execs = self.store.executionsList(self._mark, n) if n > 0 else None
        for i in range(execs.size() if execs is not None else 0):
            self._add_execution(execs.apply(i).executionId(), out)
        return out

    def _add_execution(self, exec_id: int, out: dict) -> None:
        values = self.store.executionMetrics(exec_id)
        graph = self.store.planGraph(exec_id)
        nodes = graph.allNodes()
        rows_out: dict[int, float] = {}
        python_nodes: list[int] = []
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() in ("MapInPandas", "MapInArrow"):
                python_nodes.append(node.id())
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                name = metric.name()
                if name not in _SQL_METRICS and name != "number of output rows":
                    continue
                v = values.get(metric.accumulatorId())
                if not v.isDefined():
                    continue
                value = parse_metric(v.get())
                if name == "number of output rows":
                    rows_out[node.id()] = value
                else:
                    out[_SQL_METRICS[name]] += value
        # rows sent into a Python node = output rows of the nearest node
        # below it that counts rows (a Project in between counts none)
        children: dict[int, list[int]] = {}
        edges = graph.edges()
        for j in range(edges.size()):
            e = edges.apply(j)
            children.setdefault(e.toId(), []).append(e.fromId())
        for node in python_nodes:
            below = children.get(node, [])
            while len(below) == 1 and below[0] not in rows_out:
                below = children.get(below[0], [])
            out["python_rows_in"] += sum(rows_out.get(c, 0.0) for c in below)
