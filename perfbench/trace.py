"""Benchmark-side tracing: spans around the public functions of each layer.

A span records its name, start, end, parent and the step (round or wave)
it ran in. Each span sets a Spark job group while it is open, so the Spark
event log attributes every job, stage and task (and the shuffle bytes) to
the innermost span that ran it. Spans stay in memory and are written out
when the run ends.

Nothing inside ``crawld_spark`` changes: ``install`` swaps module and class
attributes for thin wrappers, and only in a traced run. An untraced run uses
``NullTracer``, whose spans do nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time


class Span:
    __slots__ = ("sid", "name", "parent", "step", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: "Span | None", step):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.step = step
        self.start = 0.0
        self.end = 0.0
        self.attrs: dict = {}

    @property
    def group(self) -> str:
        return f"bench-span-{self.sid}"

    def to_dict(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent.sid if self.parent else None,
            "step": self.step,
            "start": self.start,
            "end": self.end,
            **self.attrs,
        }


class NullTracer:
    """Tracing off: spans cost one context-manager entry and record nothing."""

    enabled = False
    step = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def record(self, name: str, start: float, end: float) -> None:
        pass


class Tracer:
    """Spans in memory; one Spark job group per open span.

    PySpark pins each Python thread to its own JVM thread, so a job group is
    per thread. A span opened on a worker thread (the round's concurrent
    staged writes) takes the main thread's innermost open span as its
    parent, and sets its own job group on that worker thread.
    """

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.step = None  # the round/wave id spans are stamped with
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def record(self, name: str, start: float, end: float) -> Span:
        """A span for work that ran before the tracer existed (the session)."""
        s = Span(next(self._ids), name, None, None)
        s.start, s.end = start, end
        self.spans.append(s)
        return s

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            s = Span(next(self._ids), name, parent, self.step)
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_dict() for s in self.spans], f)


# ---------------------------------------------------------------- wrappers


def _wrap(tracer: Tracer, fn, name_of, tap):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        name = name_of(args)
        top = tracer.current()
        # a call already inside a span of the same name (the benchmark's own
        # span around the same layer) adds no second span
        same = top is not None and top.name == name
        with contextlib.nullcontext() if same else tracer.span(name):
            out = fn(*args, **kwargs)
        if tap is not None:
            tap(args, kwargs, out)
        return out

    return wrapper


@contextlib.contextmanager
def install(tracer: Tracer, taps: dict | None = None, on_release=None):
    """Wrap the layers' public functions for the lifetime of the block.

    - ``plans.rounds.global_rank`` as called by ``run_round`` → the round's
      one fused schedule→fetch→extract→admit→rank job (``rounds.fused_job``)
    - ``operators.seen.admit_new_urls`` → ``seen.admit``
    - ``operators.politeness.schedule_round`` → ``politeness.schedule``
    - ``sources.tables.Catalog`` read / write / append / upsert /
      commit_round → ``tables.read``, ``tables.write.<table>``,
      ``tables.commit``
    ``taps`` maps a span name to ``fn(args, kwargs, result)``, called after
    the wrapped function returns. ``operators.seen.release_df`` calls
    ``on_release`` first, so the round's caches are still materialized when
    it runs.
    """
    import crawld_spark.plans.rounds as rounds_mod
    from crawld_spark.operators import politeness, seen
    from crawld_spark.sources.tables import Catalog

    const = lambda n: (lambda args: n)  # noqa: E731
    table = lambda args: f"tables.write.{args[1]}"  # noqa: E731
    targets = [
        (rounds_mod, "global_rank", const("rounds.fused_job")),
        (seen, "admit_new_urls", const("seen.admit")),
        (politeness, "schedule_round", const("politeness.schedule")),
        (Catalog, "read", const("tables.read")),
        (Catalog, "commit_round", const("tables.commit")),
        (Catalog, "write", table),
        (Catalog, "append", table),
        (Catalog, "upsert", table),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    taps = taps or {}
    for obj, attr, name_of in targets:
        tap = taps.get(name_of((None, "")))
        setattr(obj, attr, _wrap(tracer, getattr(obj, attr), name_of, tap))
    if on_release is not None:
        orig_release = seen.release_df

        def release(df):
            on_release()
            orig_release(df)

        saved.append((seen, "release_df", orig_release))
        seen.release_df = release
    try:
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


# ------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and shuffle bytes, from the Spark
    event log (JSON lines, uncompressed)."""
    per: dict[str, dict] = {}
    stage_group: dict[int, str | None] = {}

    def bucket(group):
        return per.setdefault(
            group,
            {"jobs": 0, "stages": 0, "tasks": 0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0},
        )

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    bucket(g)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
                    b = bucket(g)
                    b["stages"] += 1
                    b["tasks"] += int(info.get("Number of Tasks", 0))
                    for acc in info.get("Accumulables", []):
                        name, val = acc.get("Name"), acc.get("Value")
                        if name in (
                            "internal.metrics.shuffle.read.remoteBytesRead",
                            "internal.metrics.shuffle.read.localBytesRead",
                        ):
                            b["shuffle_read_bytes"] += int(val)
                        elif name == "internal.metrics.shuffle.write.bytesWritten":
                            b["shuffle_write_bytes"] += int(val)
    return per


# ------------------------------------------------------------- analysis

SPARK_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def annotate(spans: list[Span], groups: dict[str, dict]) -> None:
    """Stamp each span with its self time (duration minus the part of it
    its children cover) and with the Spark work of its own job group."""
    children = children_index(spans)
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, [])
            if c.end > s.start and c.start < s.end
        ]
        s.attrs["self_s"] = (s.end - s.start) - union_len(kids)
        g = groups.get(s.group, {})
        for k in SPARK_KEYS:
            s.attrs[k] = int(g.get(k, 0))


def children_index(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent.sid, []).append(s)
    return out


def per_step_median(values_by_step: dict, steps: list) -> float:
    """Median over the timed steps of a per-step sum (0 for a step where
    the layer did nothing)."""
    if not steps:
        return 0.0
    return float(statistics.median(values_by_step.get(st, 0.0) for st in steps))


def layer_table(spans: list[Span], steps: list) -> list[tuple]:
    """One row per span name over the timed steps: calls, total seconds,
    self seconds, and the Spark work of the span's own job groups."""
    rows: dict[str, list] = {}
    for s in spans:
        if s.step not in steps:
            continue
        r = rows.setdefault(s.name, [0, 0.0, 0.0] + [0] * len(SPARK_KEYS))
        r[0] += 1
        r[1] += s.end - s.start
        r[2] += s.attrs.get("self_s", 0.0)
        for i, k in enumerate(SPARK_KEYS):
            r[3 + i] += s.attrs.get(k, 0)
    return sorted(((name, *r) for name, r in rows.items()), key=lambda r: -r[3])
