"""In-memory spans for the traced run.

A span has a name, a kind, start and end times, a parent and the id of
the op it belongs to. Four kinds are recorded:

- `op`: one timed operation (one pipeline build, one leaf pass);
- `stage`: one `lineage.StageTracker.materialize` call;
- `leaf`: one query-registry call, construction plus noop write;
- `checkpoint`: one `DataFrame.localCheckpoint`/`checkpoint` call.

Stage and leaf spans also set the Spark job group of the calling thread
to `<op>|<kind>:<name>`, so the event log attributes every job to the
span that submitted it. The pipeline writes its node and relational
stages from a thread pool, and Spark keeps job groups per thread, so
the group is set inside the wrapped call, never by the caller.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


def job_group(op: str, kind: str, name: str) -> str:
    return f"{op}|{kind}:{name}"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, kind: str, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            span = {
                "id": len(self.spans),
                "op": self._op["name"] if self._op else None,
                "kind": kind,
                "name": name,
                "parent": parent["id"] if parent else None,
                "thread": threading.get_ident(),
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(span)
        stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def op(self, name: str):
        """The op span; jobs outside any stage/leaf span of this op
        land in the group `<op>|op:<name>`."""
        self._op = None
        span = self._open("op", name)
        span["op"] = name
        self._op = span
        self.sc.setJobGroup(job_group(name, "op", name), name)
        try:
            yield span
        finally:
            self._close(span)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None

    @contextlib.contextmanager
    def span(self, kind: str, name: str):
        span = self._open(kind, name)
        grouped = kind in ("stage", "leaf") and self._op is not None
        if grouped:
            op = self._op["name"]
            self.sc.setJobGroup(job_group(op, kind, name), name)
        try:
            yield span
        finally:
            self._close(span)
            if grouped:
                # back to the op's own group: pool threads are reused
                # across stages, so a stale group would misattribute
                self.sc.setJobGroup(job_group(op, "op", op), op)

    # -- patches ----------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        """Wrap StageTracker.materialize and the two DataFrame
        checkpoint methods. Spark 4's concrete DataFrame is
        pyspark.sql.classic.dataframe.DataFrame; the abstract base's
        methods never run."""
        from pyspark.sql.classic.dataframe import DataFrame

        from datacapsule_spark.lineage import StageTracker

        tracer = self

        def stage_wrapper(orig):
            def materialize(self, stage, *args, **kwargs):
                with tracer.span("stage", stage):
                    return orig(self, stage, *args, **kwargs)
            return materialize

        def checkpoint_wrapper(orig):
            def checkpoint(self, *args, **kwargs):
                with tracer.span("checkpoint", orig.__name__):
                    return orig(self, *args, **kwargs)
            return checkpoint

        self._patch(StageTracker, "materialize", stage_wrapper)
        self._patch(DataFrame, "localCheckpoint", checkpoint_wrapper)
        self._patch(DataFrame, "checkpoint", checkpoint_wrapper)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


# -- span arithmetic ------------------------------------------------------
def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_seconds(span: dict, spans: list[dict]) -> float:
    """The span's duration minus the part its child spans cover."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return duration(span) - union_seconds(kids)
