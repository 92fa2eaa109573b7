"""Measurement from outside the program: spans around calls into its public
functions, Spark's status store and the JVM's MXBeans read over py4j.

Nothing here edits ``palimpzest_spark``. A :class:`Tracer` swaps chosen
attributes of its modules and classes for timing wrappers and puts the
originals back in :meth:`Tracer.restore`.
"""

from __future__ import annotations

import functools
import os
import re
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    info: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap each other; their union is removed)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes :meth:`span` a bare
    timer that keeps nothing, so untraced runs pay two clock reads."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []

    def span(self, name: str, **info: Any) -> "_SpanCtx":
        return _SpanCtx(self, name, info)

    def _open(self, name: str, info: dict) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent, info=info)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str,
             on_result: Callable[[Span, Any], None] | None = None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.
        ``on_result(span, result)`` may attach counts to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            s = tracer._open(name, {})
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(s)
            if on_result is not None:
                on_result(s, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self": st[s.id], **({"info": s.info} if s.info else {})}
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, info: dict) -> None:
        self.tracer, self.name, self.info = tracer, name, info
        self.span: Span | None = None
        self.t0 = self.seconds = 0.0

    def __enter__(self) -> "_SpanCtx":
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.info)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc: Any) -> None:
        self.seconds = time.perf_counter() - self.t0
        if self.span is not None:
            self.tracer._close(self.span)


# --------------------------------------------------------------------------
# Spark status store (per job group) and the Python crossing

_PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "PythonMapInArrow")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric value as a number: ``'1,234'`` -> 1234,
    ``'12.5 MiB'`` -> bytes. Multi-task values read ``'total (min, med,
    max ...)\\n12.5 MiB (...)'``; the total is the first number after the
    newline."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE_UNITS.get(unit, 1) if unit in _SIZE_UNITS else value


class SparkLedger:
    """Stage and SQL-node figures for the jobs of each job group the
    benchmark sets around a call."""

    def __init__(self, spark: Any) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.entries: list[dict] = []
        self.bookkeeping_s = 0.0
        self._seen_exec = -1
        self._n = 0

    def begin(self, kind: str) -> str:
        self._n += 1
        group = f"pb{self._n}"
        self.sc.setJobGroup(group, f"perfbench {kind}", False)
        return group

    def end(self, group: str, kind: str, unit: int) -> dict:
        t0 = time.perf_counter()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = []
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stages.append(self._stage(int(sid)))
        entry = {"group": group, "kind": kind, "unit": unit, "jobs": len(jobs),
                 "stages": [s for s in stages if s], "python": self._python(set(jobs))}
        self.entries.append(entry)
        self.sc._jsc.clearJobGroup()
        self.bookkeeping_s += time.perf_counter() - t0
        return entry

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self.store.lastStageAttempt(sid)
        except Exception:  # py4j: stage evicted or never submitted (skipped)
            return None
        tl = self.store.taskList(sid, sd.attemptId(), 1_000_000)
        runs = []
        for k in range(tl.size()):
            m = tl.apply(k).taskMetrics()
            if m.isDefined():
                runs.append(m.get().executorRunTime() / 1e3)
        return {
            "stage": sid, "tasks": int(sd.numTasks()),
            "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_write_b": int(sd.shuffleWriteBytes()),
            "shuffle_read_b": int(sd.shuffleReadBytes()),
            "spill_b": int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
            "task_run_s": runs,
        }

    def _python(self, jobs: set[int]) -> dict:
        """Rows and bytes crossing to and from Python workers, summed over
        the Python nodes of the SQL executions that ran ``jobs``."""
        out = {"rows": 0.0, "bytes": 0.0}
        if not jobs:
            return out
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = int(e.executionId())
            if eid <= self._seen_exec:
                continue
            keys = e.jobs().keySet()
            it = keys.iterator()
            ejobs = set()
            while it.hasNext():
                ejobs.add(int(it.next()))
            if not ejobs & jobs:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith(_PY_NODES):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    text = v.get() if v.isDefined() else None
                    if metric.name() == "number of output rows":
                        out["rows"] += parse_metric(text)
                    elif metric.name().startswith("data ") and "Python" in metric.name():
                        out["bytes"] += parse_metric(text)
        return out


# --------------------------------------------------------------------------
# JVM MXBeans and /proc


class JvmProbe:
    def __init__(self, spark: Any) -> None:
        jvm = spark._jvm
        self.mf = jvm.java.lang.management.ManagementFactory
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.system = jvm.java.lang.System
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def sample(self) -> dict:
        h = self.codegen.METRIC_COMPILATION_TIME()
        gcs = self.mf.getGarbageCollectorMXBeans()
        return {
            "jit_s": self.mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1e3,
            "codegen_classes": int(h.getCount()),
            # Dropwizard histogram: count x reservoir mean approximates the total
            "codegen_compile_s": h.getCount() * h.getSnapshot().getMean() / 1e3,
        }

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since JVM start (each pool peaks
        at its own time, so this bounds the heap's peak from above)."""
        pools = self.mf.getMemoryPoolMXBeans()
        return sum(pools.get(i).getPeakUsage().getUsed() for i in range(pools.size())
                   if pools.get(i).getType().name() == "HEAP") / (1 << 20)

    def heap_live_mb(self) -> float:
        self.system.gc()
        return self.mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / (1 << 20)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Kernel peak-RSS mark (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over this process's allowed CPUs."""
    allowed = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    steal = total = 0
    with open("/proc/stat") as f:
        for line in f:
            parts = line.split()
            if parts and parts[0] in allowed:
                vals = [int(x) for x in parts[1:]]
                total += sum(vals[:8])
                steal += vals[7] if len(vals) > 7 else 0
    return steal, total
