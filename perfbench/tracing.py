"""Tracing for the traced run: spans recorded by wrappers that this
benchmark installs around the program's public functions, Spark job
accounting read back from Spark's own event log, and the reduction of
both to per-layer metrics.

A span is (name, start, end, parent, request id). Spans are kept in
memory and written out when the run ends. One request id covers one
HTTP request, one batch entry or one ingest cycle; it is attached to the
Spark jobs the request runs as a per-thread job tag, which the event
log records with every job.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: physical-plan nodes that move rows across the JVM/Python boundary
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonMapInArrow",
)


PACKAGE = "graphdb_wikidata_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rid: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. While ``enabled`` is False every wrapper
    passes straight through, so one process can time an untraced window
    and a traced one."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    #: request id -> Catalyst phase durations (ms) and Python-boundary
    #: node count of the plans that request executed
    catalyst: dict = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    wall0: float = field(default_factory=time.time)
    perf0: float = field(default_factory=time.perf_counter)

    def __post_init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    @property
    def installed(self) -> bool:
        """True once wrappers are in place (a traced run)."""
        return bool(self._undo)

    # -- clocks ------------------------------------------------------------
    def epoch_ms(self, perf: float) -> float:
        return (self.wall0 + (perf - self.perf0)) * 1000.0

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @property
    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    def open_names(self) -> set[str]:
        return {self.spans[i].name for i in self._stack()}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(name, time.perf_counter(), parent=stack[-1] if stack else None, rid=self.rid)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def request(self, rid: str, spark_context=None):
        """Scope one operation: spans opened inside carry ``rid`` and
        Spark jobs started from this thread carry it as a job tag."""
        if not self.enabled:
            yield None
            return
        self._local.rid = rid
        if spark_context is not None:
            spark_context.addJobTag(rid)
        try:
            with self.span("op") as sp:
                yield sp
        finally:
            if spark_context is not None:
                spark_context.removeJobTag(rid)
            self._local.rid = None

    # -- wrappers ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, reentrant: bool = True) -> None:
        """Replace ``owner.attr`` by a function that records a span named
        ``name`` around each call. With ``reentrant=False`` a call made
        inside an open span of the same name records nothing (recursive
        compilers)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled or (not reentrant and name in tracer.open_names()):
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, original))

    def rebind(self, original, name: str, package: str) -> None:
        """Wrap a function everywhere a module of ``package`` imported it
        by name (``from .tables import table``)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is not None and mod_name.startswith(package) and getattr(mod, original.__name__, None) is original:
                self.wrap(mod, original.__name__, name)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def record_plan(self, df) -> None:
        """Plan ``df`` now and book its Catalyst phase times and Python
        boundary nodes to the current request."""
        if not self.enabled or self.rid is None:
            return
        with self.span("catalyst.plan"):
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        book = self.catalyst[self.rid]
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                book[phase] += got.get().durationMs()
        book["python_nodes"] += sum(plan.count(n) for n in PYTHON_NODES)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start_ms": round(self.epoch_ms(s.start), 3),
                            "end_ms": round(self.epoch_ms(s.end), 3),
                            "parent": s.parent,
                            "rid": s.rid,
                        }
                    )
                    + "\n"
                )


def install(tracer: Tracer) -> None:
    """Wrap the public functions of each layer the metrics name."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from graphdb_wikidata_spark import ingest, tables
    from graphdb_wikidata_spark.engine import api, compiler, json_result, paths, tpch_graph

    tracer.wrap(tpch_graph, "materialized_statements", "tpch_graph.materialize")
    tracer.wrap(api.GraphEngine, "warm", "api.warm")
    tracer.wrap(compiler.Compiler, "stats", "compiler.stats", reentrant=False)
    tracer.wrap(api.GraphEngine, "sql", "api.sql", reentrant=False)
    tracer.wrap(api.GraphEngine, "sql_json", "api.sql_json")
    tracer.rebind(api.parse_query, "parser.parse", PACKAGE)
    tracer.wrap(compiler.Compiler, "compile", "compiler.compile", reentrant=False)
    tracer.wrap(paths, "compile_path", "paths.closure", reentrant=False)
    tracer.rebind(json_result.to_sparql_json, "json_result.to_sparql_json", PACKAGE)
    tracer.rebind(ingest.load_dump, "ingest.load_dump", PACKAGE)
    tracer.rebind(ingest.write_statements, "ingest.write_statements", PACKAGE)
    tracer.rebind(tables.table, "tables.table", PACKAGE)

    original = ClassicDataFrame.toLocalIterator

    @functools.wraps(original)
    def to_local_iterator(self, *args, **kwargs):
        tracer.record_plan(self)
        return original(self, *args, **kwargs)

    ClassicDataFrame.toLocalIterator = to_local_iterator
    tracer._undo.append((ClassicDataFrame, "toLocalIterator", original))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    tags: set[str]
    submit: float
    complete: float = 0.0
    ran_stages: int = 0
    tasks: int = 0
    scheduler_delay_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: float = 0.0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their per-task accounting summed, from the event log(s)
    Spark wrote under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    # Spark writes a directory of rolling event files per application;
    # read them in their numeric order (events_2 before events_10)
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(paths, key=lambda p: [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)]):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a truncated last line of a log still open
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tags = {t for t in (props.get("spark.job.tags") or "").split(",") if t}
                    job = Job(tags, float(ev["Submission Time"]))
                    jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].complete = float(ev["Completion Time"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_job:
                        jobs[stage_job[sid]].ran_stages += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                    job = jobs[stage_job[ev["Stage ID"]]]
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    job.tasks += 1
                    busy = (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Executor Run Time", 0)
                        + m.get("Result Serialization Time", 0)
                    )
                    span = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    getting = info.get("Getting Result Time", 0)
                    if getting:
                        span -= info.get("Finish Time", 0) - getting
                    job.scheduler_delay_ms += max(0, span - busy)
                    rd = m.get("Shuffle Read Metrics") or {}
                    job.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job.gc_ms += m.get("JVM GC Time", 0)
    return list(jobs.values())


# ---------------------------------------------------------------------------
# reduction to per-layer metrics
# ---------------------------------------------------------------------------


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def self_ms(spans: list[Span], idx: int, children: dict[int, list[int]]) -> float:
    """Span duration minus the part of it its child spans cover (ms)."""
    sp = spans[idx]
    covered = _union_ms(
        [
            (max(spans[c].start, sp.start), min(spans[c].end, sp.end))
            for c in children.get(idx, ())
            if spans[c].end > sp.start and spans[c].start < sp.end
        ]
    )
    return (sp.dur - covered) * 1000.0


def _jobs_within(tracer: Tracer, jobs: list[Job], sp: Span) -> list[Job]:
    lo, hi = tracer.epoch_ms(sp.start), tracer.epoch_ms(sp.end)
    return [j for j in jobs if sp.rid in j.tags and lo <= j.submit <= hi]


def layer_metrics(
    tracer: Tracer,
    jobs: list[Job],
    op_rids: list[str],
    client_ms: dict[str, float],
) -> dict[str, float]:
    """Per-layer numbers for the operations ``op_rids`` of the traced
    window (means per operation unless the name says otherwise) plus the
    set-up spans of the run."""
    spans = tracer.spans
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    ops = set(op_rids)
    n = max(1, len(ops))

    def total_s(name: str, in_ops: bool = False) -> float:
        return sum(
            s.dur for s in spans if s.name == name and ((s.rid in ops) if in_ops else s.rid is None)
        )

    by_name: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.rid in ops:
            by_name[s.name].append(i)

    def per_op_ms(name: str, self_time: bool = False) -> float:
        idxs = by_name.get(name, [])
        if self_time:
            return sum(self_ms(spans, i, children) for i in idxs) / n
        return sum(spans[i].dur for i in idxs) * 1000.0 / n

    def jobs_in(name: str) -> list[Job]:
        return [j for i in by_name.get(name, []) for j in _jobs_within(tracer, jobs, spans[i])]

    op_jobs = [j for j in jobs if j.tags & ops]
    sql_calls = by_name.get("api.sql", [])
    hits = [i for i in sql_calls if not any(spans[c].name == "compiler.compile" for c in children.get(i, ()))]

    # serializer self time: to_sparql_json minus child spans minus the
    # Spark jobs it ran
    ser_ms = 0.0
    for i in by_name.get("json_result.to_sparql_json", []):
        sp = spans[i]
        lo, hi = tracer.epoch_ms(sp.start), tracer.epoch_ms(sp.end)
        job_ms = _union_ms(
            [(max(j.submit, lo), min(j.complete, hi)) for j in _jobs_within(tracer, jobs, sp)]
        )
        ser_ms += max(0.0, self_ms(spans, i, children) - job_ms)

    # server overhead: client latency minus the engine's sql_json span,
    # for operations that went through the HTTP server
    served = {spans[i].rid for i in by_name.get("server.request", [])}
    sql_json_ms: dict[str, float] = defaultdict(float)
    for i in by_name.get("api.sql_json", []):
        sql_json_ms[spans[i].rid] += spans[i].dur * 1000.0
    overhead = [client_ms[r] - sql_json_ms[r] for r in served if r in client_ms]

    warm_s = total_s("api.warm")
    stats_in_warm = sum(
        spans[c].dur
        for i, s in enumerate(spans)
        if s.name == "api.warm" and s.rid is None
        for c in children.get(i, ())
        if spans[c].name == "compiler.stats"
    )
    catalyst = [tracer.catalyst.get(r, {}) for r in ops]
    out = {
        "tpch_graph.materialize_s": total_s("tpch_graph.materialize") + warm_s - stats_in_warm,
        "compiler.stats_s": total_s("compiler.stats"),
        "parser.parse_ms": per_op_ms("parser.parse"),
        "compiler.compile_ms": per_op_ms("compiler.compile", self_time=True),
        "catalyst.analysis_ms": sum(c.get("analysis", 0) for c in catalyst) / n,
        "catalyst.optimization_ms": sum(c.get("optimization", 0) for c in catalyst) / n,
        "catalyst.planning_ms": sum(c.get("planning", 0) for c in catalyst) / n,
        "api.sql_calls": float(len(sql_calls)),
        "api.plan_cache_hit_ratio": len(hits) / len(sql_calls) if sql_calls else 0.0,
        "api.compile_wait_ms": sum(spans[i].dur for i in hits) * 1000.0 / n,
        "paths.closure_ms": per_op_ms("paths.closure"),
        "paths.closure_calls": len(by_name.get("paths.closure", [])) / n,
        "paths.jobs": len(jobs_in("paths.closure")) / n,
        "json_result.serialize_ms": ser_ms / n,
        "json_result.jobs_per_request": len(jobs_in("json_result.to_sparql_json")) / n,
        "server.overhead_ms": sum(overhead) / len(overhead) if overhead else 0.0,
        "spark.exec_ms": sum(max(0.0, j.complete - j.submit) for j in op_jobs) / n,
        "spark.jobs": len(op_jobs) / n,
        "spark.stages": sum(j.ran_stages for j in op_jobs) / n,
        "spark.tasks": sum(j.tasks for j in op_jobs) / n,
        "spark.scheduler_delay_ms": sum(j.scheduler_delay_ms for j in op_jobs) / n,
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in op_jobs) / n,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in op_jobs) / n,
        "spark.spill_bytes": sum(j.spill_bytes for j in op_jobs) / n,
        "spark.gc_ms": sum(j.gc_ms for j in op_jobs) / n,
        "spark.python_boundary_nodes": sum(c.get("python_nodes", 0) for c in catalyst) / n,
        "tables.table_calls": len(by_name.get("tables.table", [])) / n,
        "tables.table_ms": per_op_ms("tables.table"),
        "trace.ops": float(len(ops)),
        "trace.spans": float(len(spans)),
    }
    return out
