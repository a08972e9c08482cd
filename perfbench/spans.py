"""Spans and the Spark REST reader for the traced run.

Spans are kept in memory (name, start, end, parent, run id) and written
out when the run ends.  A span's self time is its duration minus the
part of its interval that its children cover (children may overlap each
other; their union is subtracted once).

Spark plan metrics come from the UI REST API of the traced session:
``/sql?details=true`` (per plan node) and ``/stages`` (per stage).
Note: the map-side ``ObjectHashAggregate`` is pipelined with
``MapInPandas`` in one stage, so its "time in aggregation build"
includes the Python run time; it is not a self time and is not used.
Only the reduce-side aggregate (after the assembly Exchange) is.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder; ``span`` nests via an explicit stack."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        start = time.time()
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(sid, name, start, time.time(), parent, self.run_id)
            )

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        sid = next(self._ids)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi
    ):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


# ------------------------------------------------------------ Spark REST

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def metric_value(text: str) -> float:
    """Parse a SQL UI metric string: '1,259', '532 ms', '2.2 MiB', or the
    'total (min, med, max ...)\\n9.4 s (...)' form (the total is taken)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", text)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


def ui_time(stamp: str) -> float:
    """'2026-10-17T04:06:39.521GMT' -> epoch seconds."""
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def executions(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false&length=100000")

    def stages(self) -> dict[int, dict]:
        return {s["stageId"]: s for s in self.get("/stages")
                if s["status"] == "COMPLETE"}

    def jobs(self) -> dict[int, dict]:
        return {j["jobId"]: j for j in self.get("/jobs")}

    def task_median_max(self, stage: dict) -> list[float]:
        """Median and max task duration of a stage, in seconds."""
        summary = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        return [d / 1000.0 for d in summary["duration"]]


def node_metrics(node: dict) -> dict[str, float]:
    return {m["name"]: metric_value(m["value"])
            for m in node.get("metrics", [])}
