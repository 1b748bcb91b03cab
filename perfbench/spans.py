"""In-memory spans and exact per-operation counters for the traced run.

A span is ``[name, start, end, parent, op]``: the layer it times, its
perf_counter interval, the index of the span that was open when it began,
and the operation it belongs to. Spans come from the benchmark's own files:
``Tracer.wrap`` replaces a function of the engine's public modules with one
that runs it inside a span, and the Spark actions a traced operation runs
(``count``, ``collect``, ``first``, ``foreachPartition``) get a span of
their own, charged to

* the layer whose wrapped function returned that DataFrame, or
* the innermost open layer span, when the action runs inside one, or
* the layer whose wrapped function returned last, for an action the
  orchestration runs on a DataFrame it derived itself.

Per operation the tracer also counts py4j commands (the driver's channel to
the JVM, counted on ``send_command`` as ``tools/count_py4j.py`` does, less
the object releases py4j sends on its own) and the Spark jobs and tasks run
under the operation's job group.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

import py4j.java_gateway
from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

NAME, START, END, PARENT, OP = range(5)
ACTIONS = ("count", "collect", "first", "foreachPartition")
# py4j tells the JVM to drop objects Python garbage-collected from a
# background thread, at times that vary run to run: not counted
_PY4J_DROP = "m\nd\n"
_ACTION = "<action>"  # module marker of an action span


def self_times(spans: list) -> list[float]:
    """Each span's duration minus the part its direct children cover.
    Spans come from one thread, so children nest inside their parent and do
    not overlap one another."""
    out = [s[END] - s[START] for s in spans]
    for s in spans:
        if s[PARENT] is not None:
            out[s[PARENT]] -= s[END] - s[START]
    return out


def self_by_layer(spans: list) -> dict[str, float]:
    """Self time summed per span name; the values add up to the duration of
    the root spans."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s[NAME]] = out.get(s[NAME], 0.0) + t
    return out


def _frames(value):
    """The DataFrames a wrapped function returned, directly or as fields."""
    if isinstance(value, DataFrame):
        return [value]
    fields = getattr(value, "__dataclass_fields__", None) or {}
    return [getattr(value, f) for f in fields if isinstance(getattr(value, f), DataFrame)]


class NullTracer:
    """The untraced path: the same hooks as ``Tracer``, none recording."""

    enabled = False

    @contextmanager
    def operation(self, op_id: str, name: str):
        yield {}

    @contextmanager
    def span(self, name: str, module: str | None = None):
        yield

    def traced(self, fn, layer: str):
        return fn

    def install(self, wraps) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._modules: list[str | None] = []  # module of each open span
        self._op: str | None = None
        self._patched: list[tuple] = []
        self._tags: dict[int, str] = {}
        self._last_layer: str | None = None
        self._py4j = 0
        self._counting = False

    # ---- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, module: str | None = None):
        if self._op is None:  # outside an operation nothing is recorded
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self._op])
        self._stack.append(idx)
        self._modules.append(module)
        try:
            yield
        finally:
            self._stack.pop()
            self._modules.pop()
            self.spans[idx][END] = time.perf_counter()

    def op_spans(self, op_id: str) -> list:
        """The spans of one operation, re-indexed so parents point into the
        returned list."""
        picked = [i for i, s in enumerate(self.spans) if s[OP] == op_id]
        where = {old: new for new, old in enumerate(picked)}
        return [
            [*self.spans[i][:PARENT], where.get(self.spans[i][PARENT]), op_id] for i in picked
        ]

    @contextmanager
    def operation(self, op_id: str, name: str):
        """One traced operation: a root span, a Spark job group, and a py4j
        count. Yields a dict that holds ``py4j_calls`` once the block ends;
        ``job_counts(op_id)`` reads the Spark counts afterwards."""
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, name)
        counts: dict = {}
        self._op, self._py4j, self._counting = op_id, 0, True
        try:
            with self.span(name):
                yield counts
        finally:
            self._counting = False
            self._op, self._last_layer = None, None
            self._tags.clear()
            counts["py4j_calls"] = self._py4j
            sc.setLocalProperty("spark.jobGroup.id", None)

    def job_counts(self, group: str) -> dict:
        """Spark jobs and tasks run under job group ``group``. It waits for
        the listener bus, so call it outside the timed block."""
        sc = self.spark.sparkContext
        # the status store is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                stage_info = tracker.getStageInfo(stage)
                tasks += stage_info.numTasks if stage_info else 0
        return {"spark_jobs": len(jobs), "spark_tasks": tasks}

    # ---- patching ----------------------------------------------------------
    def _patch(self, owner, attr, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, layer: str, frames_layer: str | None = None) -> None:
        """Run ``owner.attr`` inside a span named ``layer``. Actions on the
        DataFrames it returns are charged to ``frames_layer`` (default
        ``layer``). A call a module makes into itself stays in the caller's
        span."""
        orig = getattr(owner, attr)
        module = getattr(orig, "__module__", None)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if self._op is None or (self._modules and self._modules[-1] == module):
                return orig(*args, **kwargs)
            with self.span(layer, module):
                out = orig(*args, **kwargs)
            for df in _frames(out):
                self._tags[id(df)] = frames_layer or layer
            self._last_layer = layer
            return out

        self._patch(owner, attr, traced)

    def traced(self, fn, layer: str):
        """``fn`` run inside a span named ``layer`` (for a function the
        engine receives as an argument, such as the key lookup)."""

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return call

    def install(self, wraps) -> None:
        """Apply ``wraps`` (``(owner, attr, layer[, frames_layer])`` tuples),
        the action spans and the py4j counter; ``uninstall`` reverts all."""
        for w in wraps:
            self.wrap(*w)
        for action in ACTIONS:
            self._patch(
                ClassicDataFrame, action, self._action(getattr(ClassicDataFrame, action))
            )
        # the pinned-thread client (py4j.clientserver.JavaClient) inherits
        # this method, so patching the base class counts every command once
        client = py4j.java_gateway.GatewayClient
        self._patch(client, "send_command", self._counted(client.send_command))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _action(self, orig):
        tracer = self

        @functools.wraps(orig)
        def action(df, *args, **kwargs):
            # first() runs collect(): an action inside an action is one span
            if tracer._op is None or tracer._modules[-1] == _ACTION:
                return orig(df, *args, **kwargs)
            layer = tracer._tags.get(id(df))
            if layer is None and len(tracer._stack) > 1:
                layer = tracer.spans[tracer._stack[-1]][NAME]
            layer = layer or tracer._last_layer or tracer.spans[tracer._stack[0]][NAME]
            with tracer.span(layer + ".exec", _ACTION):
                return orig(df, *args, **kwargs)

        return action

    def _counted(self, orig):
        tracer = self

        @functools.wraps(orig)
        def send_command(client, command, *args, **kwargs):
            if tracer._counting and not command.startswith(_PY4J_DROP):
                tracer._py4j += 1
            return orig(client, command, *args, **kwargs)

        return send_command
