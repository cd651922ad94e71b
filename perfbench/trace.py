"""Spans recorded around calls into the engine's layers.

A span has a name, a start and an end. Spans stay
in memory; the benchmark folds them into per-layer metrics when it ends.
Spark jobs that ran inside a span are its children too: they come from the
driver's status store, tagged by job group, and turn a span's duration into
time spent in jobs and time the driver spent with no job running.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in intervals if e > start and s < end
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in children]
    )


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    adds one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.time(), attrs=attrs)
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()


class SparkStatus:
    """Jobs, stages and tasks of the live application, read from the
    driver's AppStatusStore and serialised to JSON inside the JVM so one
    gateway call returns a whole list."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_mod.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        quantiles = getattr(self._store, "stageList$default$4")()
        rows = self._json(self._store.stageList(None, False, False, quantiles, None))
        return {s["stageId"]: s for s in rows if s["status"] != "SKIPPED"}

    def tasks(self, stage: dict) -> list[dict]:
        return self._json(
            self._store.taskList(stage["stageId"], stage["attemptId"], 2**31 - 1)
        )

    def rdd_storage(self) -> list[dict]:
        return self._json(self._store.rddList(True))
