"""Spans and Spark SQL metrics for the traced run.

Spans are held in memory by a ``Tracer`` and written out once, when the
run ends. A span records name, start, end and its parent; self time is
its duration minus its children's.

SQL metrics are read from Spark's status store after each action: for
every executed plan node, the metric values Spark itself aggregated
(rows, bytes, task time). The store formats values for display, so
``parse_metric`` turns them back into numbers.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def duration(self, name: str) -> float:
        """Duration of the first span with this name."""
        s = next(s for s in self.spans if s["name"] == name)
        return s["end"] - s["start"]

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus its children's durations. Children of
        one span never overlap: spans nest on a single thread."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_s=selfs[s["id"]])) + "\n")


# --- Spark SQL metrics --------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float | None:
    """Status-store display string → number (bytes, seconds or count).

    Task-aggregated metrics read 'total (min, med, max ...)\\n<total> (...)';
    the total is the first value on the last line. Average metrics have
    no total and give None."""
    m = _VALUE.match(text.strip().splitlines()[-1].strip())
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SqlMetrics:
    """Collects node metrics of the SQL executions that ran since the
    object was made or last collected."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._seen = self._max_id()
        self.nodes: list[dict] = []  # every node collected, for the run's record

    def _max_id(self) -> int:
        return max((e.executionId() for e in _iter(self._store.executionsList())), default=-1)

    def collect(self) -> list[dict]:
        """One dict per plan node of every execution since the last call:
        {"execution", "node", metric name: number}."""
        # the store is fed by the listener bus; let it catch up first
        self._bus.waitUntilEmpty()
        nodes = []
        for e in _iter(self._store.executionsList()):
            eid = e.executionId()
            if eid <= self._seen:
                continue
            values = self._store.executionMetrics(eid)
            for n in _iter(self._store.planGraph(eid).allNodes()):
                rec = {"execution": eid, "node": n.name(), "desc": n.desc()}
                for m in _iter(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined() and (x := parse_metric(v.get())) is not None:
                        rec[m.name()] = x
                nodes.append(rec)
        self._seen = self._max_id()
        self.nodes += nodes
        return nodes

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for n in self.nodes:
                f.write(json.dumps(n) + "\n")


def total(nodes: list[dict], node_prefix: str, metric: str) -> float:
    return sum(n.get(metric, 0.0) for n in nodes if n["node"].startswith(node_prefix))
