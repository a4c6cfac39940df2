"""Span recorder and Spark stage counters for the traced run.

A span covers one call into a layer: its name, start, end, parent span and
op id. Spans are kept in memory and written out when the run ends. Each span
runs under its own Spark job group, so the jobs a call launched can be read
back afterwards from the driver's status store:

    statusTracker().getJobIdsForGroup(group) -> getJobInfo(j).stageIds
    -> statusStore().lastStageAttempt(stage id)

which works with ``spark.ui.enabled=false``. Counters are read once, when the
run ends, so reading them costs the timed calls nothing.

With tracing off, :meth:`Tracer.span` returns one shared no-op context and
touches neither the clock nor Spark.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    op_type: str | None
    parent: int | None
    root: int  # the outermost span this one runs inside
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    self_ms: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()

STAGE_COUNTERS = ("numTasks", "executorRunTime", "shuffleWriteBytes", "shuffleReadBytes",
                  "memoryBytesSpilled", "diskBytesSpilled", "inputBytes", "outputBytes")


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, op: int | None = None, op_type: str | None = None, **attrs):
        if not self.enabled:
            return _NULL
        return self._span(name, op, op_type, attrs)

    @contextlib.contextmanager
    def _span(self, name, op, op_type, attrs):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            op = parent.op if op is None else op
            op_type = parent.op_type if op_type is None else op_type
        sid = len(self.spans)
        s = Span(sid, name, op, op_type, parent.id if parent else None,
                 parent.root if parent else sid, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    # -- after the run ---------------------------------------------------------
    def finish(self) -> None:
        """Fill each span's own Spark counters and its self time."""
        if not self.spans:
            return
        sc = self.spark.sparkContext
        try:  # counters are posted asynchronously; drain the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older Spark: counters may lag slightly
            time.sleep(1.0)
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{s.id}")
            c = dict.fromkeys(STAGE_COUNTERS, 0)
            c["jobs"] = len(jobs)
            task_ms: list[int] = []
            stages = {sid for j in jobs if (info := tracker.getJobInfo(j)) for sid in info.stageIds}
            for sid in stages:
                try:
                    a = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                for k in STAGE_COUNTERS:
                    c[k] += getattr(a, k)()
                it = store.taskList(sid, a.attemptId(), 1_000_000).iterator()
                while it.hasNext():
                    m = it.next().taskMetrics()
                    if m.isDefined():
                        task_ms.append(m.get().executorRunTime())
            c["task_ms"] = task_ms
            s.counters = c
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        for s in self.spans:
            s.self_ms = s.ms - _covered_ms(s, children.get(s.id, []))

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.id, "name": s.name, "op": s.op, "op_type": s.op_type,
                "parent": s.parent, "start_ms": round((s.start - t0) * 1000, 3),
                "end_ms": round((s.end - t0) * 1000, 3), "self_ms": round(s.self_ms, 3),
                "attrs": s.attrs,
                "counters": {k: v for k, v in s.counters.items() if k != "task_ms"},
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=1)

    # -- aggregation -----------------------------------------------------------
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def per_op(self, name: str, value) -> list[float]:
        """``value(span)`` summed per op over the spans called ``name``."""
        acc: dict[int | None, float] = {}
        for s in self.by_name(name):
            acc[s.op] = acc.get(s.op, 0.0) + value(s)
        return list(acc.values())

    def session_counters(self, op_type: str, op_ms: dict[int, float], slots: int) -> dict:
        """Spark counters of every job the ops of one type launched inside
        their op span (traced-only extras such as ``compiler.exec`` excluded)."""
        spans = [s for s in self.spans if s.op_type == op_type and s.op in op_ms
                 and self.spans[s.root].name == "op"]
        if not spans:
            return dict.fromkeys(("jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
                                  "busy_frac", "task_skew"), 0.0)
        n_ops = len(op_ms)

        def total(k):
            return sum(s.counters.get(k, 0) for s in spans)

        task_ms = [t for s in spans for t in s.counters.get("task_ms", [])]
        med = statistics.median(task_ms) if task_ms else 0
        return {
            "jobs": total("jobs") / n_ops,
            "tasks": total("numTasks") / n_ops,
            "shuffle_write_bytes": total("shuffleWriteBytes") / n_ops,
            "spill_bytes": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / n_ops,
            "busy_frac": total("executorRunTime") / (sum(op_ms.values()) * slots),
            "task_skew": (max(task_ms) / med) if med else 0.0,
        }


def _covered_ms(span: Span, kids: list[Span]) -> float:
    """Length of the part of ``span`` that the union of ``kids`` covers."""
    covered, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda k: k.start):
        s, e = max(k.start, span.start), min(k.end, span.end)
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
    return covered * 1000.0


def jvm_memory_mb(spark) -> tuple[float, float]:
    """(peak RSS of the driver JVM from /proc VmHWM, live heap after a full GC)."""
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    peak = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                peak = int(line.split()[1]) / 1024.0
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return peak, (rt.totalMemory() - rt.freeMemory()) / 2**20


# stage name -> layer whose work the checkpointed stage runs
_STAGE_LAYERS = {
    "s1_spans": "pipeline.spans",
    "s2_relations": "pipeline.mentions",
    "s3_links": "pipeline.linking",
    "s4_canon": "pipeline.cc",
    "s5_triples": "pipeline.kgpipeline.triples",
}


def instrument_engine(tracer: Tracer, dir_bytes):
    """Wrap the engine entry points that other engine code calls internally,
    so their calls get spans too: ``compiler.compile_mapping`` (also records
    whether the call returned an earlier call's DataFrame, i.e. a compile
    memo hit), ``GraphTable.write/merge/compact``,
    ``StageCheckpointer.run_stage`` and ``sparql.parse_query``. The wrappers
    only open spans; with the tracer disabled they add one attribute check.
    Returns a function that restores the originals."""
    from p5_rdf_rdb2rdf_spark import compiler, sparql
    from p5_rdf_rdb2rdf_spark.io.checkpoint import StageCheckpointer
    from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable

    saved = [
        (compiler, "compile_mapping", compiler.compile_mapping),
        (sparql, "parse_query", sparql.parse_query),
        (GraphTable, "write", GraphTable.write),
        (GraphTable, "merge", GraphTable.merge),
        (GraphTable, "compact", GraphTable.compact),
        (StageCheckpointer, "run_stage", StageCheckpointer.run_stage),
    ]
    orig = {name: fn for _owner, name, fn in saved}
    returned: list = []  # strong references, so identities stay unique

    def compile_mapping(*a, **kw):
        with tracer.span("compiler.plan") as s:
            df = orig["compile_mapping"](*a, **kw)
        if tracer.enabled:
            s.attrs["memo_hit"] = any(df is prev for prev in returned)
        returned.append(df)
        return df

    def parse_query(*a, **kw):
        with tracer.span("sparql.parse"):
            return orig["parse_query"](*a, **kw)

    def write(self, *a, **kw):
        with tracer.span("io.graph_table.write") as s:
            sid = orig["write"](self, *a, **kw)
        if tracer.enabled:
            s.attrs["files"], s.attrs["bytes"] = dir_bytes(self._snapshot(sid)["dir"])
        return sid

    def merge(self, *a, **kw):
        with tracer.span("io.graph_table.merge"):
            return orig["merge"](self, *a, **kw)

    def compact(self, *a, **kw):
        with tracer.span("io.graph_table.compact"):
            return orig["compact"](self, *a, **kw)

    def run_stage(self, stage, *a, **kw):
        with tracer.span(_STAGE_LAYERS.get(stage, f"pipeline.{stage}"), stage=stage):
            return orig["run_stage"](self, stage, *a, **kw)

    wrappers = {"compile_mapping": compile_mapping, "parse_query": parse_query, "write": write,
                "merge": merge, "compact": compact, "run_stage": run_stage}
    for owner, name, _fn in saved:
        setattr(owner, name, wrappers[name])

    def restore():
        for owner, name, fn in saved:
            setattr(owner, name, fn)

    return restore
