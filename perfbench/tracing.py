"""Spans around the engine's public functions, and Spark's own counters.

Both are used only by the traced run (``--trace 1``); the untraced run
installs nothing, so its end-to-end numbers carry no tracing cost.

``Tracer`` wraps module attributes of the engine with span-recording
shims, active while ``enabled``: name, start, end, parent span and request id, kept in memory and
written out once when the run ends. A layer is the module a function
lives in, so ``gate.check`` belongs to layer ``gate``. A layer's self
time is its spans' durations minus the parts their child spans cover.

``SparkCounters`` puts every operation under its own job group and, after
the run, sums the stage metrics of each group's jobs from the status
store (which Spark keeps with the UI off).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict

from database_toolbox_spark import (
    catalog,
    document_store,
    executor,
    gate,
    looker,
    registry,
    session,
)

DOC_FNS = (
    "update_document",
    "add_documents",
    "delete_documents",
    "get_documents",
    "query_collection",
)

# (module, attribute, span name). A function imported by name into a second
# module is patched there too, so calls through either name are seen.
TARGETS = (
    (registry, "call_tool", "registry.call_tool"),
    (gate, "check", "gate.check"),
    (executor, "check", "gate.check"),
    (executor, "execute_sql", "executor.execute_sql"),
    (executor, "capped_mcp_content", "executor.capped_mcp_content"),
    (catalog, "list_tables", "catalog.list_tables"),
    (catalog, "search_entries", "catalog.search_entries"),
    (looker, "run_query", "looker.run_query"),
    (looker, "run_look", "looker.run_look"),
    (looker, "load_tables", "session.load_tables"),
    (session, "load_tables", "session.load_tables"),
    (session, "release_materialized", "session.release_materialized"),
) + tuple((document_store, fn, f"document_store.{fn}") for fn in DOC_FNS)


class Tracer:
    """In-memory span recorder. Spans are lists
    ``(name, start, end, parent_index, request_id)`` with times from
    ``time.perf_counter``."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.enabled = True  # wrappers pass straight through when False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request_id: int | None = None
        self.denied = 0
        self.rows = 0
        self.truncated = 0
        self.released = 0

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.request_id])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, index: int) -> None:
        self.spans[index][2] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            i = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            except gate.StatementDenied:
                if name == "gate.check":
                    self.denied += 1
                raise
            finally:
                self.end(i)
            if name == "executor.capped_mcp_content":
                trunc = bool(out) and '"truncated": true' in out[-1]["text"]
                self.truncated += trunc
                self.rows += len(out) - trunc
            elif name == "session.release_materialized":
                self.released += out
            return out

        return traced

    def install(self) -> None:
        wrapped: dict[int, object] = {}
        for module, attr, name in TARGETS:
            fn = getattr(module, attr)
            if id(fn) not in wrapped:
                wrapped[id(fn)] = self._wrap(name, fn)
            self._patched.append((module, attr, fn))
            setattr(module, attr, wrapped[id(fn)])

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_seconds(self, start: int = 0) -> dict[str, float]:
        """Total self time per layer (span name up to the first dot) of
        the spans from index ``start`` on."""
        child = defaultdict(float)
        for s in self.spans[start:]:
            if s[3] is not None and s[2] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans[start:], start):
            if s[2] is not None:
                out[s[0].split(".", 1)[0]] += (s[2] - s[1]) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "request_id"],
                    "spans": self.spans,
                },
                f,
            )


STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class SparkCounters:
    """Job group per operation; stage metrics summed per group on read."""

    def __init__(self, spark, prefix: str) -> None:
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.groups: list[str] = []

    def begin(self, label: str) -> str:
        group = f"{self.prefix}-{len(self.groups)}"
        self.groups.append(group)
        self.sc.setJobGroup(group, label)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read(self) -> dict[str, dict[str, int]]:
        """group -> {jobs, stages, numTasks, executorRunTime (ms),
        executorCpuTime (ns), shuffle/spill bytes}. Waits for the listener
        bus first: the status store is filled asynchronously."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out: dict[str, dict[str, int]] = {}
        for group in self.groups:
            jobs = tracker.getJobIdsForGroup(group)
            stages: set[int] = set()
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(int(s) for s in info.stageIds)
            row = dict.fromkeys(STAGE_FIELDS, 0)
            row["jobs"] = len(jobs)
            row["stages"] = 0
            for sid in stages:
                data = store.lastStageAttempt(sid)
                if data.status().toString() == "SKIPPED":
                    continue
                row["stages"] += 1
                for field in STAGE_FIELDS:
                    row[field] += int(getattr(data, field)())
            out[group] = row
        return out
