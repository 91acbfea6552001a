"""Layer tracing from outside the program.

``Tracer.install`` wraps the package's public functions at their layer
boundaries, including every name another module bound to the same function
object through ``from ... import`` (``plans.pipeline.merge_upsert`` is the
``operators.merge`` function under a second name). Nothing inside the
package changes; the wrappers are removed again by ``uninstall``.

Each wrapped call records a span ``(name, start, end, parent, run id)`` in
memory and runs under a Spark job group of its own, so the Spark jobs it
starts, and their tasks, are read back from ``statusTracker()`` and charged
to the innermost span. Spans are written to a JSON file when the benchmark
ends. A span's self time is its duration minus the union of its children.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "incremental_datapipeline_using_snowflake_spark"

# (layer metric prefix, module, attribute path). A dotted attribute is a
# method on a class of that module.
TARGETS = [
    ("session.get_session", "session", "get_session"),
    ("sources.parse_feed_text", "sources.noaa_feed", "parse_feed_text"),
    ("operators.changelog.append", "operators.changelog", "Changelog.append"),
    ("operators.changelog.commit", "operators.changelog", "Changelog.commit"),
    ("operators.merge.merge_upsert", "operators.merge", "merge_upsert"),
    ("operators.table_store.append", "operators.table_store", "TableStore.append"),
    ("operators.table_store.overwrite", "operators.table_store", "TableStore.overwrite"),
    ("operators.table_store.transaction", "operators.table_store", "TableStore.transaction"),
    ("operators.table_store.compact", "operators.table_store", "TableStore.compact"),
    ("plans.load_raw", "plans.pipeline", "load_raw"),
    ("plans.harmonize", "plans.pipeline", "harmonize"),
    ("plans.analytics_incremental", "plans.pipeline", "analytics_incremental"),
    ("plans.analytics", "plans.pipeline", "analytics"),
    ("streaming.stream_harmonize", "streaming.incremental", "stream_harmonize"),
    ("functions.pct_change", "functions.kernels", "pct_change"),
    ("functions.volatility", "functions.kernels", "volatility"),
    ("functions.normalize_value", "functions.kernels", "normalize_value"),
    ("ops.similarity.build_ivf_index", "ops.similarity", "build_ivf_index"),
    ("ops.similarity.append_to_ivf_index", "ops.similarity", "append_to_ivf_index"),
    ("ops.similarity.maybe_reindex_ivf", "ops.similarity", "maybe_reindex_ivf"),
    ("ops.similarity.query_ivf_index", "ops.similarity", "query_ivf_index"),
]

# context-manager methods: the span covers the with-block, not the call
_CONTEXT_MANAGERS = {"operators.table_store.transaction"}

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: int = -1
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0


class Tracer:
    """Collects spans for wrapped calls while ``enabled`` is true; with it
    false the wrappers only pass calls through."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.run_id = -1
        self.spark = None
        self.t0 = time.perf_counter()
        # seconds spent in the tracer's own bookkeeping (its overhead)
        self.cost_s = 0.0
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- span stack --------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        stack = self._stack()
        # a worker thread's first span hangs off the main thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), name, c0,
                  parent=parent.sid if parent else None, run_id=self.run_id)
        sp.group = f"perfbench-{sp.sid}"
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_group = sc.getLocalProperty(_GROUP_KEY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(_GROUP_KEY, sp.group)
        stack.append(sp)
        c1 = sp.start = time.perf_counter()  # the span excludes the bookkeeping
        try:
            yield
        finally:
            c2 = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP_KEY, prev_group)
            sp.end = c2
            with self._lock:
                self.spans.append(sp)
                self.cost_s += (c1 - c0) + (time.perf_counter() - c2)

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        if name in _CONTEXT_MANAGERS:
            @functools.wraps(fn)
            @contextlib.contextmanager
            def cm_wrapper(*args, **kwargs):
                with tracer.span(name), fn(*args, **kwargs) as v:
                    yield v

            return cm_wrapper

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Patch every target and every module-level alias of it."""
        import importlib

        for name, mod_name, attr in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner = mod
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            wrapped = self._wrap(name, orig)
            self._set(owner, leaf, wrapped)
            if isinstance(owner, type):
                continue
            for other in list(sys.modules.values()):
                if other is None or other is mod or not getattr(other, "__name__", "").startswith(PKG):
                    continue
                for k, v in list(vars(other).items()):
                    if v is orig:
                        self._set(other, k, wrapped)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr) if not isinstance(owner, type) else owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- results -----------------------------------------------------------
    def resolve_jobs(self) -> None:
        """Read each span's Spark jobs and their attempted tasks."""
        st = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(st.getJobIdsForGroup(sp.group))
            n = 0
            for jid in sp.jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        n += si.numCompletedTasks + si.numFailedTasks
            sp.tasks = n

    def self_times(self) -> dict[int, float]:
        """Span id -> self seconds (duration minus the union of children)."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(sp.sid, []), key=lambda s: s.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = max(sp.end - sp.start - covered, 0.0)
        return out

    def layer_table(self) -> dict[str, dict[str, float]]:
        """``name -> {calls, busy_ms, jobs, tasks}`` over every target."""
        selft = self.self_times()
        table = {name: {"calls": 0, "busy_ms": 0.0, "jobs": 0, "tasks": 0}
                 for name, _m, _a in TARGETS}
        for sp in self.spans:
            row = table.setdefault(sp.name, {"calls": 0, "busy_ms": 0.0, "jobs": 0, "tasks": 0})
            row["calls"] += 1
            row["busy_ms"] += selft[sp.sid] * 1000.0
            row["jobs"] += len(sp.jobs)
            row["tasks"] += sp.tasks
        return table

    def write(self, path: str) -> None:
        """Spans as JSON, times in seconds from the tracer's creation."""
        t0 = self.t0
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.sid, "name": s.name, "start_s": s.start - t0,
                     "end_s": s.end - t0, "parent": s.parent, "run_id": s.run_id,
                     "jobs": s.jobs, "tasks": s.tasks}
                    for s in sorted(self.spans, key=lambda s: s.start)
                ],
                f,
                indent=0,
            )
