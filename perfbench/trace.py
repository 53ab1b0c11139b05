"""Spans recorded around the benchmark's calls into the engine's layers.

A span is (name, layer, start, end, parent, op id) plus the py4j round
trips made while it was open and the Spark job group it set. Spans are
kept in memory; Spark stage metrics for each span's job group are read
from the driver's status store through py4j once the run has ended, and
the whole trace is written out as JSON.

Tracing never runs inside the engine: layer functions are wrapped from
here, for the traced run only, and unwrapped afterwards.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

#: SparkJobInfo / StageData getters summed per span (status-store names)
STAGE_COUNTERS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes", "inputRecords",
)


@dataclass
class Span:
    idx: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    work: dict[str, int] = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Py4JCounter:
    """Counts commands sent over the py4j gateway client."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self.paused = False

        def counting(*args, **kwargs):
            if not self.paused:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """Span recorder. Until ``start`` it hands out no-op spans."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self._wrapped: list[tuple[object, str, object]] = []
        self.counter: Py4JCounter | None = None
        self.bookkeeping_s = 0.0  # time spent in span entry/exit itself

    def start(self) -> None:
        self.counter = Py4JCounter(self.spark)
        self.enabled = True

    # -- recording ---------------------------------------------------------
    def span(self, name: str, layer: str, **attrs):
        return self._span(name, layer, attrs) if self.enabled else nullcontext()

    @contextmanager
    def op(self, op_id: int):
        self._op = op_id
        try:
            yield
        finally:
            self._op = None

    @contextmanager
    def _span(self, name: str, layer: str, attrs: dict):
        t_enter = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self._op,
                 parent.idx if parent else None, 0.0, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.counter.paused = True
        sc.setJobGroup(f"pb{s.idx}", name)
        self.counter.paused = False
        py4j0 = self.counter.calls
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t_enter
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j = self.counter.calls - py4j0
            self._stack.pop()
            self.counter.paused = True
            if parent is not None:
                sc.setJobGroup(f"pb{parent.idx}", parent.name)
            else:
                sc._jsc.clearJobGroup()
            self.counter.paused = False
            self.bookkeeping_s += time.perf_counter() - s.end

    def wrap(self, owner, attr: str, name: str, layer: str,
             name_fn=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call.
        Every loaded module of the engine that holds the same function
        under the same name is re-pointed too, so ``from x import f``
        call sites are covered. ``name_fn(args, kwargs)`` names the span
        per call; ``after(span)`` runs once the call returned, uncounted."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name_fn(args, kwargs) if name_fn else name, layer) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                self.counter.paused = True
                try:
                    after(s)
                finally:
                    self.counter.paused = False
            return out

        targets = [owner] + [
            m for mname, m in list(sys.modules.items())
            if mname.startswith("bookstore_aws_lakehouse_spark")
            and m is not owner and getattr(m, attr, None) is orig
        ]
        for t in targets:
            setattr(t, attr, traced)
            self._wrapped.append((t, attr, orig))

    # -- attribution -------------------------------------------------------
    def collect(self) -> None:
        """Attach job ids and summed stage metrics to every span."""
        if not self.enabled:
            return
        for t, attr, orig in reversed(self._wrapped):
            setattr(t, attr, orig)
        self._wrapped.clear()
        self.counter.paused = True
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.spark._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        tracker = sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(f"pb{s.idx}"))
            s.work = {k: 0 for k in STAGE_COUNTERS}
            for jid in s.jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    seq = store.stageData(sid, False, no_status, False, no_quantiles)
                    if seq.isEmpty():
                        continue
                    sd = seq.head()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    s.stages += 1
                    for k in STAGE_COUNTERS:
                        s.work[k] += getattr(sd, k)()
        self.counter.close()

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.idx]

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
