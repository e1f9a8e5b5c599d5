"""Per-layer tracing from outside the program.

Spans are recorded by wrapping the public entry points of each
interference_spark module (and PySpark's DataFrame actions) from this
file; nothing in the package itself is edited. A span is
``(name, start, end, parent, op)``; all spans stay in memory and are
written out when the run ends. Self time is a span's duration minus the
part of it its children cover.

Counters ride on the same wrappers (part files listed, compactions, bytes
written by MERGE), and Spark job/stage/task counts come from a job group
set per op plus ``statusTracker``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

_NOW = time.perf_counter


class Tracer:
    """Records spans and counters while installed; ``op`` is the index of
    the timed op the driver thread is executing (-1 outside ops)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[tuple[str, float, float, int, int, int]] = []
        self.counters: dict[str, float] = {}
        self.op = -1
        self.overhead_s = 0.0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._group = ""
        self._jobs_seen: set[int] = set()

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def _open(self) -> tuple[list[int], int]:
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)  # placeholder, filled on close
        parent = stack[-1] if stack else -1
        stack.append(sid)
        return stack, parent

    def _close(self, sid: int, name: str, t0: float, t1: float, parent: int) -> None:
        self._stack().pop()
        self.spans[sid] = (name, t0, t1, parent, self.op, threading.get_ident())

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + n

    def _add_overhead(self, seconds: float) -> None:
        """Time spent in the tracer's own bookkeeping (any thread)."""
        with self._lock:
            self.overhead_s += seconds

    # -------------------------------------------------------------- install
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``after`` is
        called with (args, result) to update counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            e0 = _NOW()
            stack, parent = tracer._open()
            sid = stack[-1]
            t0 = _NOW()
            try:
                res = orig(*args, **kwargs)
            finally:
                t1 = _NOW()
                tracer._close(sid, name, t0, t1, parent)
            if after is not None:
                after(args, res)
            tracer._add_overhead((t0 - e0) + (_NOW() - t1))
            return res

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def wrap_action(self, owner, attr: str) -> None:
        """Time a PySpark action as ``spark.exec``; nested actions (``first``
        calls ``head`` calls ``collect``) record only the outermost."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if getattr(tracer._tls, "in_action", False):
                return orig(*args, **kwargs)
            tracer._tls.in_action = True
            try:
                with tracer.span("spark.exec"):
                    return orig(*args, **kwargs)
            finally:
                tracer._tls.in_action = False

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self, extra=(), groups=()) -> None:
        """Wrap the entry points (plus ``extra`` (owner, attribute, span
        name) triples). Jobs already in the stream job ``groups`` (the
        initial and warm-up micro-batches) are not counted to any op."""
        import interference_spark.dialect as dialect
        from interference_spark.dml import store
        from interference_spark.engine import Engine
        from interference_spark.session import Session
        from interference_spark.streaming.stream_queue import StreamQueue
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        self.wrap(Session, "find", "session.find")
        self.wrap(Session, "commit", "session.commit")
        self.wrap(Session, "execute", "session.execute")
        self.wrap(dialect, "parse", "dialect.parse")
        self.wrap(dialect, "compile_query", "dialect.compile")
        self.wrap(Engine, "read_table", "engine.read_table")
        self.wrap(store, "read_managed", "dml.store.read_managed")
        self.wrap(store, "append_rows", "dml.store.append_rows")
        self.wrap(store, "upsert", "dml.store.upsert",
                  after=lambda a, r: self._merge_written(a[1]))
        self.wrap(store, "compact", "dml.store.compact",
                  after=lambda a, r: self.count("dml.store.compact_calls"))
        self.wrap(store, "stage_rows", "dml.store.stage_rows",
                  after=lambda a, r: self.count(
                      "dml.store.staged_bytes", os.path.getsize(r[1])))
        # counter only: a span per directory listing would cost more than
        # the listing it measures
        orig_parts = store._parts

        def parts(td):
            files = orig_parts(td)
            self.count("dml.store.files_listed", len(files))
            return files

        store._parts = parts
        self._undo.append((store, "_parts", orig_parts))
        orig_drain = StreamQueue.drain_available

        def drain(sq):
            with self.span(f"streaming.drain.{getattr(sq, 'bench_kind', 'other')}"):
                return orig_drain(sq)

        StreamQueue.drain_available = drain
        self._undo.append((StreamQueue, "drain_available", orig_drain))
        for a in ("collect", "count", "first", "head", "take", "toPandas", "isEmpty"):
            self.wrap_action(DataFrame, a)
        for a in ("parquet", "save"):
            self.wrap_action(DataFrameWriter, a)
        for owner, attr, name in extra:
            self.wrap(owner, attr, name)
        st = self.spark.sparkContext.statusTracker()
        for g in groups:
            self._jobs_seen.update(st.getJobIdsForGroup(g))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _merge_written(self, td) -> None:
        """Bytes now in the table's part files that the MERGE wrote (files
        not present before it) — read after the swap, so compaction-free
        upserts count exactly the rewritten parts plus the new rows."""
        before = getattr(self._tls, "parts_before", None)
        self._tls.parts_before = None
        if before is None:
            return
        written = 0
        for f in os.listdir(td.path):
            if f.endswith(".parquet") and f not in before:
                written += os.path.getsize(os.path.join(td.path, f))
        self.count("dml.store.merge_bytes", written)

    def before_op(self, op: int, table_dirs=()) -> None:
        """Start op ``op``: tag its Spark jobs and remember the table parts
        so the MERGE write volume can be measured."""
        e0 = _NOW()
        self.op = op
        self._group = f"perfbench-op-{op}"
        self.spark.sparkContext.setJobGroup(self._group, self._group)
        self._tls.parts_before = set()
        for d in table_dirs:
            self._tls.parts_before.update(os.listdir(d))
        self._add_overhead(_NOW() - e0)

    def after_op(self, extra_groups=()) -> None:
        """Count the jobs, stages and tasks the op ran: its own job group
        plus (for streams) each query's run-id group."""
        e0 = _NOW()
        st = self.spark.sparkContext.statusTracker()
        jobs = set()
        for g in [self._group, *extra_groups]:
            jobs.update(st.getJobIdsForGroup(g))
        jobs -= self._jobs_seen
        self._jobs_seen |= jobs
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        self.count("spark.jobs", len(jobs))
        self.count("spark.stages", stages)
        self.count("spark.tasks", tasks)
        self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        self.op = -1
        self._add_overhead(_NOW() - e0)

    # ---------------------------------------------------------------- report
    def summary(self) -> dict[str, dict[str, float]]:
        """name -> calls, inclusive seconds and self seconds (timed ops only)."""
        spans = [s for s in self.spans if s is not None]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s[3] >= 0:
                children.setdefault(s[3], []).append((s[1], s[2]))
        out: dict[str, dict[str, float]] = {}
        for sid, s in enumerate(self.spans):
            if s is None or s[4] < 0:
                continue
            name, t0, t1, _, _, _ = s
            covered = 0.0
            end = t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, end), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            d = out.setdefault(name, {"calls": 0, "incl_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["incl_s"] += t1 - t0
            d["self_s"] += (t1 - t0) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, s in enumerate(self.spans):
                if s is None:
                    continue
                name, t0, t1, parent, op, tid = s
                f.write(json.dumps({"id": sid, "name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op, "thread": tid}) + "\n")


class _Span:
    __slots__ = ("tr", "name", "sid", "parent", "t0")

    def __init__(self, tr: Tracer, name: str) -> None:
        self.tr, self.name = tr, name

    def __enter__(self):
        stack, self.parent = self.tr._open()
        self.sid = stack[-1]
        self.t0 = _NOW()
        return self

    def __exit__(self, *exc):
        self.tr._close(self.sid, self.name, self.t0, _NOW(), self.parent)
        return False


def jvm_gc_ms(spark) -> float:
    """Cumulative GC time of the driver JVM over all collectors (JMX)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))
