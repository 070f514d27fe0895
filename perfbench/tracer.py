"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary: the
workloads open spans around the package functions they call, and
``Tracer.install`` wraps a few inner public functions (``io.load``,
``sources.write_table``, ``catalog.clone_manifest``, ``_cache.memo_df``,
``pipeline.clone.clone_table``) in every package module that imported
them, restoring the originals on ``uninstall``. Nothing in the package is
edited.

Spark counts come from the live status store (which is kept with
``spark.ui.enabled=false``). A span that asks for counts takes the
scheduler's next job and stage ids when it opens and sums the stages
created before it closes, after the listener bus has drained. Diffing id
ranges, rather than reading job groups, also counts the jobs that
``clone_database``'s worker threads submit. Counting happens outside the
span's own start/end timestamps.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

COUNT_KEYS = (
    "jobs", "stages", "tasks", "task_s", "scan_bytes", "write_bytes",
    "shuffle_bytes", "spill_bytes", "sql_executions",
)


class SparkCounters:
    """Job/stage/task/byte counts between two marks, from the status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        self._bus.waitUntilEmpty()
        return int(self._dag.nextJobId()), int(self._dag.nextStageId()), int(self._sql.executionsCount())

    def since(self, m: tuple[int, int, int]) -> dict:
        jobs, stages, execs = self.mark()
        out = dict.fromkeys(COUNT_KEYS, 0)
        out["jobs"], out["sql_executions"] = jobs - m[0], execs - m[2]
        for sid in range(m[1], stages):
            try:
                d = self._store.lastStageAttempt(sid)
            except Py4JError:  # created but never submitted
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["task_s"] += d.executorRunTime() / 1000.0
            out["scan_bytes"] += d.inputBytes()
            out["write_bytes"] += d.outputBytes()
            out["shuffle_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out


class Tracer:
    """Spans with name, layer, start, end, parent and op id.

    A disabled tracer records nothing and its ``span`` is a plain
    ``yield``, so untraced runs pay one generator per call site."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cache_entries_peak = 0
        self._counters = SparkCounters(spark) if enabled else None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main: list[dict] = []
        self._main_thread = threading.get_ident()
        self._lock = threading.Lock()
        self._op = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main_thread:
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, counts: bool = False, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        # a worker thread's first span hangs under the caller's open span
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sp = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "op": self._op,
            **attrs,
        }
        mark = self._counters.mark() if counts else None
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if counts:
                sp["counts"] = self._counters.since(mark)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def op(self, op_id, name: str):
        """The root span of one benchmark op."""
        self._op = op_id
        try:
            with self.span(name, "op", counts=True) as sp:
                yield sp
        finally:
            self._op = None

    # -- wrapping inner layer functions ------------------------------------

    def _replace_everywhere(self, fn, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("database_clonev2_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, fn))

    def _wrap(self, fn, name: str, layer: str, counts: bool = False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer, counts=counts):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_memo(self, memo_df, caches):
        """``memo_df`` seen from outside: a call that leaves the cache no
        larger was served from it."""

        @functools.wraps(memo_df)
        def wrapper(cache, tag, src, build):
            before = len(cache)
            with self.span("cache.memo_df", "cache", tag=tag) as sp:
                out = memo_df(cache, tag, src, build)
                sp["added"] = len(cache) - before
            entries = sum(len(c) for _, c in caches)
            self.cache_entries_peak = max(self.cache_entries_peak, entries)
            return out

        return wrapper

    def install(self) -> None:
        """Wrap the inner layer functions; call after the package is imported."""
        if not self.enabled or self._patched:
            return
        from database_clonev2_spark import _cache, catalog, io, sources
        from database_clonev2_spark.pipeline import clone

        for fn, wrapper in (
            (io.load, self._wrap(io.load, "io.load", "io")),
            (sources.write_table, self._wrap(sources.write_table, "io.write_table", "io")),
            (
                catalog.clone_manifest,
                self._wrap(catalog.clone_manifest, "catalog.clone_manifest", "catalog", counts=True),
            ),
            (_cache.memo_df, self._wrap_memo(_cache.memo_df, _cache._CACHES)),
            (clone.clone_table, self._wrap(clone.clone_table, "clone.table", "clone")),
        ):
            self._replace_everywhere(fn, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


# -- span arithmetic ---------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span time minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        kids = [(max(s, sp["start"]), min(e, sp["end"])) for s, e in children.get(sp["id"], [])]
        own = sp["end"] - sp["start"] - _union([k for k in kids if k[1] > k[0]])
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + own
    return out


def uncovered_frac(spans: list[dict]) -> float:
    """Mean over ops of the share of op wall time no child span covers."""
    by_parent: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        by_parent.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    fracs = []
    for sp in spans:
        if sp["layer"] != "op":
            continue
        wall = sp["end"] - sp["start"]
        if wall > 0:
            fracs.append(1.0 - _union(by_parent.get(sp["id"], [])) / wall)
    return sum(fracs) / len(fracs) if fracs else 0.0
