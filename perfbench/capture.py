"""Per-layer capture for the traced run, taken from outside the engine.

* ``Tracer`` keeps spans in memory: name, layer, start, end, parent, and the
  id of the op they belong to. ``self_times`` subtracts from each span the
  part of its interval its children cover.
* ``LayerPatch`` wraps the engine's layer entry points (module functions and
  methods) so each call records a span. Functions imported by name into
  other modules are replaced there too. ``undo`` restores the originals.
* ``SparkProbe`` reads Spark's public status APIs for one op: the jobs of
  its job group (``statusTracker``), per-stage task metrics from the status
  store, and the Catalyst phase times of the DataFrames the op produced
  (``queryExecution().tracker().phases()``). Jobs and phases come back as
  spans on the same wall clock as the Python spans.
* ``store_walk`` sums the files and bytes under a store directory.

Nothing here is imported by the engine; the untraced run leaves it idle.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    op: str
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    op: str = ""
    #: DataFrames whose Catalyst phases belong to the current op.
    frames: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span; outside a traced op (``op`` empty) record
        nothing."""
        if not self.op:
            yield None
            return
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), self.op, name, layer, parent, time.time())
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()

    def add(self, name: str, layer: str, start: float, end: float,
            within: list[Span]) -> None:
        """Attach a span measured elsewhere (a Spark job, a Catalyst phase)
        under the innermost span of ``within`` that contains its midpoint
        (the JVM reports whole milliseconds), clipped to that parent."""
        mid = (start + end) / 2
        best = None
        for p in within:
            if p.start <= mid <= p.end and (best is None or p.dur < best.dur):
                best = p
        if best is None:
            return
        s = Span(len(self.spans), self.op, name, layer, best.id,
                 max(start, best.start), min(end, best.end))
        if s.end > s.start:
            self.spans.append(s)

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        cover = [(max(a, s.start), min(b, s.end))
                 for a, b in kids.get(s.id, []) if b > s.start and a < s.end]
        out[s.id] = max(0.0, s.dur - _union(cover))
    return out


# ---------------------------------------------------------------------------
# layer wrappers
# ---------------------------------------------------------------------------

#: (module, attribute or "Class.method", layer). Graph covers the public
#: algorithms plus the driver-finish kernels and the gated pull.
LAYER_TARGETS = [
    ("hierarchical_graph_db_spark.materialize", "materialize", "materialize"),
    ("hierarchical_graph_db_spark.localdf", "local_rows_df", "localdf"),
    ("hierarchical_graph_db_spark.localdf", "collect_tuples", "localdf"),
    ("hierarchical_graph_db_spark.operators.skew", "fan_out_scan",
     "operators.skew"),
    ("hierarchical_graph_db_spark.sources.maildir", "scan_maildir",
     "sources.maildir"),
    ("hierarchical_graph_db_spark.sources.maildir", "parse_emails",
     "sources.maildir"),
    ("hierarchical_graph_db_spark.sources.maildir", "merge_parsed",
     "sources.maildir"),
    ("hierarchical_graph_db_spark.operators.dedup_merge", "dedup_merge",
     "operators.dedup_merge"),
    ("hierarchical_graph_db_spark.operators.dedup_merge", "merge_into",
     "operators.dedup_merge"),
    ("hierarchical_graph_db_spark.streaming.ingest", "DedupParquetSink.__call__",
     "streaming.ingest"),
    ("hierarchical_graph_db_spark.streaming.ingest", "read_dedup_store",
     "streaming.ingest"),
    ("hierarchical_graph_db_spark.streaming.store", "BucketedParquetStore.read",
     "streaming.store"),
    ("hierarchical_graph_db_spark.streaming.store",
     "BucketedParquetStore.commit", "streaming.store"),
    ("hierarchical_graph_db_spark.streaming.store",
     "BucketedParquetStore.already_done", "streaming.store"),
    ("hierarchical_graph_db_spark.streaming.store",
     "BucketedParquetStore.exists", "streaming.store"),
]

_GRAPH = "hierarchical_graph_db_spark.operators.graph"
_GRAPH_PRIVATE = ("_driver_", "_tarjan_scc", "_bfs_driver",
                  "_collect_small_graph", "_materialize_counted")


def _graph_targets() -> list[tuple[str, str, str]]:
    mod = sys.modules[_GRAPH]
    out = []
    for name, fn in vars(mod).items():
        if not inspect.isfunction(fn) or fn.__module__ != _GRAPH:
            continue
        if not name.startswith("_") or name.startswith(_GRAPH_PRIVATE):
            out.append((_GRAPH, name, "operators.graph"))
    return out


class LayerPatch:
    """Wrap every layer target so a call records a span on ``tracer``.
    Each DataFrame passed to ``materialize`` joins ``tracer.frames``, so
    the Catalyst phases of per-round plans are read too."""

    def __init__(self, tracer: Tracer):
        import importlib

        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []
        for modname, _, _ in LAYER_TARGETS:
            importlib.import_module(modname)
        importlib.import_module(_GRAPH)
        engine = [m for n, m in list(sys.modules.items())
                  if n.startswith("hierarchical_graph_db_spark") and m]
        for modname, attr, layer in LAYER_TARGETS + _graph_targets():
            mod = sys.modules[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._set(cls, meth, self._wrap(orig, attr, layer))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, attr, layer)
            for m in engine:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._set(m, k, wrapped)

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if layer == "materialize" and tracer.op:
                # The input frame's QueryExecution planned the checkpoint.
                tracer.frames.append(args[0])
            return out

        return wrapper

    def undo(self) -> None:
        for owner, attr, value in reversed(self._undo):
            setattr(owner, attr, value)
        self._undo.clear()


# ---------------------------------------------------------------------------
# Spark status read-out
# ---------------------------------------------------------------------------

_PHASES = ("analysis", "optimization", "planning")
EXEC_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes")


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class SparkProbe:
    """Job group per op plus read-outs from the status tracker, the status
    store and the Catalyst phase tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._n = 0

    def new_group(self, name: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        return group

    def jobs(self, group: str) -> list[dict]:
        """Each finished job of ``group``: start, end and its stages'
        task metrics summed (skipped stages count nothing)."""
        out = []
        for jid in sorted(self.tracker.getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            start, end = _epoch(jd.submissionTime()), _epoch(jd.completionTime())
            if start is None or end is None:
                continue
            row = {"start": start, "end": end, "jobs": 1, "stages": 0}
            for k in EXEC_COUNTERS[2:]:
                row[k] = 0
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else []):
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                row["stages"] += 1
                row["tasks"] += sd.numTasks()
                row["executor_run_s"] += sd.executorRunTime() / 1e3
                row["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                row["input_bytes"] += sd.inputBytes()
                row["shuffle_read_bytes"] += sd.shuffleReadBytes()
                row["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                row["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
            out.append(row)
        return out

    @staticmethod
    def phases(df) -> list[tuple[str, float, float]]:
        """(phase, start, end) for each Catalyst phase ``df`` has run."""
        try:
            tracked = df._jdf.queryExecution().tracker().phases()
        except AttributeError:  # not a classic DataFrame
            return []
        out = []
        for ph in _PHASES:
            got = tracked.get(ph)
            if got.isDefined():
                p = got.get()
                out.append((ph, p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))
        return out


def attach_spark(tracer: Tracer, probe: SparkProbe, group: str,
                 op_id: str) -> tuple[dict, list[dict]]:
    """Turn the op's jobs and tracked Catalyst phases into spans under the
    op's Python spans; return the op's counters and its jobs."""
    within = tracer.op_spans(op_id)
    jobs = probe.jobs(group)
    counters = {k: 0.0 for k in EXEC_COUNTERS}
    for j in jobs:
        for k in EXEC_COUNTERS:
            counters[k] += j[k]
    # Jobs may overlap (broadcasts run beside the main job): one span per
    # merged interval keeps the parent's self time honest.
    merged: list[list[float]] = []
    for j in sorted(jobs, key=lambda j: j["start"]):
        if merged and j["start"] <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], j["end"])
        else:
            merged.append([j["start"], j["end"]])
    for s, e in merged:
        tracer.add("spark jobs", "exec", s, e, within)
    for ph in _PHASES:
        counters[f"catalyst_{ph}_ms"] = 0.0
    seen = set()
    for df in tracer.frames:
        if id(df) in seen:
            continue
        seen.add(id(df))
        for ph, s, e in SparkProbe.phases(df):
            counters[f"catalyst_{ph}_ms"] += (e - s) * 1e3
            tracer.add(f"catalyst {ph}", "catalyst", s, e, within)
    tracer.frames.clear()
    return counters, jobs


def store_walk(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes
