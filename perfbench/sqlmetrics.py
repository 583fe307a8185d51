"""Read Spark's per-operator SQL metrics for the jobs of one timed call.

``run_extraction`` is one lazy plan, so the split of its job time into
layers comes from the SQL metrics Spark already keeps for every execution.
With the UI disabled they are still recorded by the session's
``SQLAppStatusStore``; this module reads ``executionMetrics`` and
``planGraph`` of every execution started after a mark and flattens them to
``(node name, node description, metric name) -> Value`` rows.

Spark renders the values as text: ``"20,000"`` for sums, ``"0 ms"`` for a
single task, and ``"total (min, med, max (stageId: taskId))\\n2.0 s (474 ms,
507 ms, 531 ms (stage 60.0: task 71))"`` for per-task summaries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_QUANTITY = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")


def _quantity(text: str) -> float:
    m = _QUANTITY.match(text.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class Value:
    """A metric in base units (seconds, bytes or a count); ``med``/``max``
    are the per-task median and maximum when Spark recorded them."""

    total: float
    med: float | None = None
    max: float | None = None


def parse_value(text: str) -> Value:
    if "\n" not in text:
        return Value(_quantity(text))
    summary = text.split("\n", 1)[1]
    total, rest = summary.split(" (", 1)
    parts = [p.strip() for p in rest.split(",")]
    med = _quantity(parts[1])
    mx = _quantity(parts[2].split(" (")[0])
    return Value(_quantity(total), med, mx)


@dataclass
class Row:
    execution_id: int
    node: str
    desc: str
    metric: str
    value: Value


def last_execution_id(spark) -> int:
    """Highest SQL execution id so far (-1 when none): the mark to pass to
    ``rows_since`` before starting the call to attribute."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return max((execs.apply(i).executionId() for i in range(n)), default=-1)


def rows_since(spark, mark: int, upto: int | None = None) -> list[Row]:
    """Every metric of every execution with an id above ``mark`` (and at
    most ``upto``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= mark or (upto is not None and eid > upto):
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out.append(
                        Row(eid, node.name(), node.desc(), m.name(), parse_value(v.get()))
                    )
    return out


def select(rows: list[Row], node: str, metric: str, desc_has: str = "") -> list[Value]:
    return [
        r.value
        for r in rows
        if r.node.strip() == node and r.metric == metric and desc_has in r.desc
    ]


def total(rows: list[Row], node: str, metric: str, desc_has: str = "") -> float:
    return sum(v.total for v in select(rows, node, metric, desc_has))
