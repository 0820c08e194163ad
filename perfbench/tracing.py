"""Traced-run machinery: spans recorded from the benchmark's own files,
Spark engine counters read around each operation, and wrappers that
time a layer's public function at the site it is imported from.

A span is (id, name, start, end, parent, op). An operation ("op") is one
request of a workload — a search, a batch call, an ingest call — and
every span recorded while it runs shares its op id. Spans stay in memory
and are written out once, when the run ends.

Spark work is lazy: a layer function that returns a DataFrame does its
real work in the action that consumes it. The benchmark therefore opens
an ``action`` span around each collect, named after the layer whose plan
it executes, so self time lands where the work happens.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict


class SparkCounters:
    """Engine totals from the status store (works with the UI off).
    Reads drain the listener bus first so finished tasks are counted."""

    FIELDS = ("jobs", "tasks", "task_time_ms", "input_bytes", "shuffle_bytes")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        execs = self._sc.statusStore().executorList(True)
        out = dict.fromkeys(self.FIELDS, 0)
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["task_time_ms"] += e.totalDuration()
            out["input_bytes"] += e.totalInputBytes()
            out["shuffle_bytes"] += e.totalShuffleRead() + e.totalShuffleWrite()
        out["jobs"] = self._sc.dagScheduler().nextJobId()
        return out

    def job_busy_ms(self, first_job: int, end_job: int, t0: float, t1: float) -> float:
        """Wall time in [t0, t1] (epoch seconds) covered by at least one
        of the jobs first_job..end_job-1 running."""
        ivs = []
        store = self._sc.statusStore()
        for jid in range(first_job, end_job):
            try:
                j = store.job(jid)
            except Exception:  # py4j error: job evicted from the store
                continue
            if j.submissionTime().isEmpty() or j.completionTime().isEmpty():
                continue
            a = max(j.submissionTime().get().getTime() / 1000.0, t0)
            b = min(j.completionTime().get().getTime() / 1000.0, t1)
            if b > a:
                ivs.append((a, b))
        return 1000.0 * union_length(ivs)


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Span recorder. Disabled, every method is a cheap no-op, so the
    workloads call it unconditionally and the untraced run pays nothing
    measurable."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_counters: list[dict] = []  # one row per traced op
        self._counters = SparkCounters(spark) if enabled and spark else None
        self._local = threading.local()
        self._next_id = 1
        self._lock = threading.Lock()
        self._op: tuple[int, str] | None = None  # (op id, op kind)
        self._main_top: int | None = None  # parent for spans of other threads
        self._wrapped: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else self._main_top
        rec = {"id": sid, "name": name, "parent": parent,
               "op": self._op[0] if self._op else None,
               "start": time.perf_counter(), "end": None}
        stack.append(sid)
        is_main = threading.current_thread() is threading.main_thread()
        if is_main:
            self._main_top = sid
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if is_main:
                self._main_top = stack[-1] if stack else None
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def op(self, kind: str):
        """One workload operation: a root span plus the Spark counter
        deltas (jobs, tasks, task time, bytes, driver-only time)."""
        if not self.enabled:
            yield None
            return
        before = self._counters.snapshot()
        with self._lock:
            op_id = self._next_id
        self._op = (op_id, kind)
        wall0 = time.time()
        try:
            with self.span(f"bench.{kind}") as rec:
                yield rec
        finally:
            wall1 = time.time()
            self._op = None
            after = self._counters.snapshot()
            row = {k: after[k] - before[k] for k in SparkCounters.FIELDS}
            busy = self._counters.job_busy_ms(
                before["jobs"], after["jobs"], wall0, wall1
            )
            row["driver_ms"] = max(0.0, 1000.0 * (wall1 - wall0) - busy)
            row["op"] = op_id
            row["kind"] = kind
            self.op_counters.append(row)

    # -- import-site wrappers --------------------------------------------
    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a version that records a span; the
        original comes back on ``unwrap_all``."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)

        setattr(owner, attr, kind(traced) if kind else traced)
        self._wrapped.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._wrapped):
            setattr(owner, attr, raw)
        self._wrapped.clear()

    # -- roll-up ---------------------------------------------------------
    def self_times(self, exclude_ops=()) -> dict[str, float]:
        """Seconds of self time per layer (the span name's prefix): a
        span's duration minus the part of it its child spans cover.
        Spans outside any op, or in ``exclude_ops``, are left out."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["op"] is None or s["op"] in exclude_ops:
                continue
            covered = union_length(
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], ())
                if min(b, s["end"]) > max(a, s["start"])
            )
            layer = s["name"].split(".", 1)[0]
            out[layer] += max(0.0, (s["end"] - s["start"]) - covered)
        return dict(out)

    def durations(self, name: str, op_kind: str | None = None) -> list[float]:
        """Seconds of every span called ``name`` (optionally only inside
        ops of ``op_kind``)."""
        kinds = {r["op"]: r["kind"] for r in self.op_counters}
        return [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and (op_kind is None or kinds.get(s["op"]) == op_kind)
        ]

    def per_op_sum(self, name: str, op_kind: str) -> list[float]:
        """Per op of ``op_kind``: (total seconds, calls) of spans ``name``."""
        kinds = {r["op"]: r["kind"] for r in self.op_counters}
        agg = {op: [0.0, 0] for op, k in kinds.items() if k == op_kind}
        for s in self.spans:
            if s["name"] == name and s["op"] in agg:
                agg[s["op"]][0] += s["end"] - s["start"]
                agg[s["op"]][1] += 1
        return list(agg.values())

    def counters(self, op_kind: str) -> list[dict]:
        return [r for r in self.op_counters if r["kind"] == op_kind]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.op_counters}, f)
