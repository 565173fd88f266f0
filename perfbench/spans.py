"""Spans around the program's public functions, from the benchmark's side.

``Tracer.install()`` wraps, at run time and without touching the program's
source, ``LakeTable.merge/compact/read/lookup/changes/current_snapshot``,
``cdc.replay.replay_events`` and ``session.get_spark``. Each span records
its name, start, end and parent; a span opened on another thread (the
streaming ``foreachBatch`` callback) takes the main thread's innermost open
span as its parent. While a span is open, its id is the Spark job group of
the thread, so the Spark event log (parsed after ``spark.stop()``) ties
every job and stage to the innermost span that launched it.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs")

    def __init__(self, sid, parent, name, attrs):
        self.id, self.parent, self.name, self.attrs = sid, parent, name, attrs
        self.start, self.end = time.time(), None

    @property
    def dur(self) -> float:
        return (self.end or time.time()) - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "start": self.start, "end": self.end, "attrs": self.attrs}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._sc = None

    # ----------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        sp = Span(f"pb-{next(self._ids)}", parent.id if parent else None,
                  name, {})
        self.spans.append(sp)
        stack.append(sp)
        old = self._set_group(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._set_group(old)

    def _set_group(self, group):
        if self._sc is None:
            return None
        old = self._sc.getLocalProperty(_GROUP)
        self._sc.setLocalProperty(_GROUP, group)
        return old

    def bind(self, spark) -> None:
        """Start tagging Spark jobs once a session exists."""
        self._sc = spark.sparkContext

    # ------------------------------------------------------------ wrap

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` by a spanned call. ``before(args)`` runs
        inside the span ahead of the call; ``after(span, args, result,
        state)`` gets its return value and may add span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                state = before(args) if before is not None else None
                result = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, result, state)
                return result

        setattr(owner, attr, traced)

    def install(self) -> None:
        from etl_spark import session
        from etl_spark.cdc import replay
        from etl_spark.lake.table import LakeTable

        self.wrap(session, "get_spark", "session.start")
        self.wrap(replay, "replay_events", "cdc.replay_events")
        self.wrap(LakeTable, "merge", "lake.merge", after=_merge_attrs)
        self.wrap(LakeTable, "compact", "lake.compact",
                  before=lambda args: _files(args[0].snapshot()),
                  after=_compact_attrs)
        self.wrap(LakeTable, "read", "lake.read")
        self.wrap(LakeTable, "lookup", "lake.lookup")
        self.wrap(LakeTable, "changes", "lake.changes")
        self.wrap(LakeTable, "current_snapshot", "lake.current_snapshot")

    # ---------------------------------------------------------- output

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [s.as_dict() for s in self.spans],
                       **(extra or {})}, fh)

    def children(self) -> dict[str | None, list[Span]]:
        out: dict = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out


def _files(snap) -> set[str]:
    return {f for fl in snap.buckets.values() for f in fl}


def _size(root: str, rels) -> int:
    return sum(os.path.getsize(os.path.join(root, r)) for r in rels)


def _compact_attrs(span: Span, args, n_buckets, before: set[str]) -> None:
    table = args[0]
    after = _files(table.snapshot())
    span.attrs.update(buckets=n_buckets,
                      bytes_in=_size(table.path, before - after),
                      bytes_out=_size(table.path, after - before))


def _merge_attrs(span: Span, args, stats, _state) -> None:
    """Files and bytes the merge commit added (its snapshot's ``added``)."""
    if stats.applied:
        table = args[0]
        added = table.snapshot(stats.version).added or []
        span.attrs.update(files_written=len(added),
                          bytes_written=_size(table.path, added))


# ------------------------------------------------------- Spark event log

_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
}


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: ``jobs``, ``tasks`` and the stage metrics in _ACC."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}

    def bucket(group):
        return out.setdefault(group, {"jobs": 0, "tasks": 0, **{
            k: 0.0 for k, _ in _ACC.values()}})

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    if group:
                        bucket(group)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    b = bucket(group)
                    b["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        hit = _ACC.get(acc.get("Name"))
                        if hit is not None:
                            b[hit[0]] += float(acc.get("Value", 0)) * hit[1]
    return out
