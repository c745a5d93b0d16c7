"""Tracing from outside the engine, for the traced run.

The tracer replaces each layer's public function at the module or class
attribute its caller resolves (``Engine.sql``, ``dml.try_execute_dml``,
``SnapshotStore.load``, ``zonemaps.load_zonemap``, ``serving.arrow_table_to_ipc``
and so on) with a wrapper that records a span. No engine source changes;
the untraced run never builds a Tracer, so it installs nothing.

A span has a name, start, end, parent span (the enclosing wrapped call on
the same thread) and, after :func:`assign_requests`, the id of the client
request that caused it. Spans stay in memory until the run ends; run.py
then writes them out.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

from stats import union_length


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    req: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        """JSON-ready form; DataFrame handles kept for phase reads drop."""
        attrs = {k: v for k, v in self.attrs.items() if k != "df"}
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "thread": self.thread, "start": self.start, "end": self.end,
                "req": self.req, **attrs}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - union_length(kids.get(s.id, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.spark = spark
        # perf_counter -> epoch seconds, to line spans up with Spark job times
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def start(self, name: str, op: bool = False) -> Span:
        st = self._stack()
        sp = Span(
            next(self._ids),
            name,
            st[-1].id if st else None,
            threading.get_ident(),
            time.perf_counter(),
        )
        if op and not st and self.spark is not None:
            # every Spark job this thread submits until its next op lands
            # in this group
            sp.attrs["group"] = f"pb-{sp.id}"
            self.spark.sparkContext.setJobGroup(sp.attrs["group"], name)
        st.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, after=None, op: bool = False):
        """Replace ``owner.attr`` by a spanning wrapper. ``after(span,
        args, kwargs, result)`` may record attributes from the call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sp = self.start(name, op)
            try:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, out)
                return out
            finally:
                self.finish(sp)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def idle(self) -> None:
        """Park this thread's later Spark jobs outside every op group."""
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup("pb-idle", "idle")


def install_layers(tracer: Tracer) -> None:
    """Wrap every traced layer function at the attribute its caller
    resolves at call time."""
    # the session's DataFrames are the classic implementation, which
    # overrides toArrow
    from pyspark.sql.classic.dataframe import DataFrame

    from polars_lake_spark import dml, engine, serving, snapshots, zonemaps
    from polars_lake_spark.sources import ipc
    from polars_lake_spark.streaming import ingest

    E = engine.Engine

    def keep_df(sp, args, kwargs, out):
        sp.attrs["df"] = out
        if sp.name == "engine.sql":
            sp.attrs["sql"] = args[1] if len(args) > 1 else kwargs.get("query")

    def bytes_in(sp, args, kwargs, out):
        sp.attrs["bytes"] = len(args[1])

    def bytes_out(sp, args, kwargs, out):
        sp.attrs["bytes"] = len(out)

    def survived(sp, args, kwargs, out):
        sp.attrs["kept"] = bool(out)

    def committed(sp, args, kwargs, out):
        store, write_name = args[0], args[1]
        sp.attrs["write_dir"] = f"{store.data_path}/{write_name}"

    t = tracer
    t.wrap(E, "sql", "engine.sql", after=keep_df, op=True)
    t.wrap(dml, "try_execute_dml", "dml.try")
    t.wrap(E, "count_where", "engine.count_where")
    t.wrap(E, "meta_row_count", "engine.meta_row_count")
    t.wrap(E, "upsert", "engine.upsert")
    t.wrap(E, "delete", "engine.delete")
    t.wrap(snapshots.SnapshotStore, "load", "snapshots.load")
    t.wrap(snapshots.SnapshotStore, "commit_write", "snapshots.commit", after=committed)
    t.wrap(zonemaps, "collect_zonemap", "zonemaps.collect")
    t.wrap(zonemaps, "load_zonemap", "zonemaps.load")
    t.wrap(zonemaps, "file_survives", "zonemaps.file_survives", after=survived)
    for mod in (ipc, serving):
        t.wrap(mod, "dataframe_from_ipc", "ipc.decode", after=bytes_in)
        t.wrap(mod, "arrow_table_to_ipc", "ipc.encode", after=bytes_out)
    t.wrap(ingest, "apply_changes_batch", "cdc.apply")
    t.wrap(DataFrame, "toArrow", "spark.toArrow")


# ------------------------------------------------------------ attribution


def assign_requests(spans: list[Span], requests: list[dict]) -> None:
    """Give each server-side span the id of the client request that caused
    it. A root ``engine.sql`` span belongs to the request with the same
    SQL whose [sent, answered] interval holds it; every later span on that
    handler thread inside the same interval belongs to it too."""
    by_sql: dict[str, list[dict]] = {}
    for r in requests:
        by_sql.setdefault(r["sql"], []).append(r)
    owners: dict[int, list[tuple[float, float, int]]] = {}
    claimed: set[int] = set()
    roots = [s for s in spans if s.name == "engine.sql" and s.parent is None]
    for s in sorted(roots, key=lambda s: s.start):
        for r in by_sql.get(s.attrs.get("sql"), ()):
            if r["id"] not in claimed and r["t0"] <= s.start <= r["t1"]:
                claimed.add(r["id"])
                owners.setdefault(s.thread, []).append((r["t0"], r["t1"], r["id"]))
                break
    for s in spans:
        for lo, hi, rid in owners.get(s.thread, ()):
            if lo <= s.start <= hi:
                s.req = rid
                break


def op_of(spans: list[Span]) -> dict[int, int]:
    """Span id -> id of its outermost ancestor (the op span on threads
    where the harness opens one)."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        r = s
        while r.parent is not None and r.parent in by_id:
            r = by_id[r.parent]
        out[s.id] = r.id
    return out


# ------------------------------------------------------------ Spark status


class SparkStatus:
    """Per-job-group counts from ``statusTracker`` and per-stage executor
    metrics from the JVM ``statusStore`` (both live with the UI off)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        # a shuffle stage reused by a later job shows up there as skipped;
        # its metrics count once, for the first job that lists it
        self.first_job: dict[int, int] = {}
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                self.first_job[sid] = min(self.first_job.get(sid, jd.jobId()), jd.jobId())
        stages = self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        self.stages: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            d = self.stages.setdefault(
                s.stageId(), {"run_ms": 0, "cpu_ns": 0, "sr": 0, "sw": 0, "in": 0}
            )
            d["run_ms"] += s.executorRunTime()
            d["cpu_ns"] += s.executorCpuTime()
            d["sr"] += s.shuffleReadBytes()
            d["sw"] += s.shuffleWriteBytes()
            d["in"] += s.inputRecords()

    def group(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
               "sr": 0, "sw": 0, "in": 0, "intervals": []}
        for jid in self.tracker.getJobIdsForGroup(group):
            jd = self.store.job(jid)
            out["jobs"] += 1
            out["stages"] += jd.numCompletedStages()
            out["tasks"] += jd.numCompletedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                st = self.stages.get(sid)
                if st is None or self.first_job.get(sid) != jid:
                    continue
                out["run_ms"] += st["run_ms"]
                out["cpu_ms"] += st["cpu_ns"] / 1e6
                out["sr"] += st["sr"]
                out["sw"] += st["sw"]
                out["in"] += st["in"]
        return out
