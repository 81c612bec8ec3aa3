"""Instruments the benchmark uses from outside the program: in-memory spans
with self-time arithmetic, Spark's own status store, a process-tree RSS
sampler and the box stamp.

Span timestamps are wall-clock seconds (``time.time()``) so Spark's stage
submission/completion times (epoch milliseconds) land on the same axis.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import platform
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field


def median(xs) -> float:
    """Median, or 0 for no samples (a run whose every operation failed)."""
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# spans and self time
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: int
    attrs: dict = field(default_factory=dict)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans) -> dict:
    """span_id -> duration minus the part of its interval that its direct
    children cover (children may overlap each other; the union counts)."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - union_length(kids.get(s.span_id, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans around layer calls. ``call`` also runs the callable
    under a Spark job group and adds each of its jobs as a ``spark.job``
    child span, and each job's completed stages as ``spark.stage.<layer>``
    children of the job, with the stage's task metrics as attrs (layer as
    in ``SparkStats.stage_layer``)."""

    def __init__(self):
        self.spans: list = []
        self.stats: SparkStats | None = None  # set once a session exists
        self._ids = itertools.count(1)
        self._stack: list = []
        self._trace = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._trace += 1
        s = Span(name, time.time(), 0.0, next(self._ids),
                 parent.span_id if parent else None, self._trace)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def _child(self, name: str, parent: Span, start: float, end: float, attrs: dict) -> Span:
        child = Span(name, start, end, next(self._ids), parent.span_id, parent.trace_id, attrs)
        self.spans.append(child)
        return child

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name) as s:
            group = f"perfbench-{s.span_id}"
            self.stats.set_group(group)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.stats.set_group(None)
        # fetching the stages is tracing work: keep it out of the layer's
        # own interval, in a named sibling span
        with self.span("trace.collect"):
            jobs = self.stats.jobs(group)
        for job in jobs:
            job_span = self._child("spark.job", s, job["start"], job["end"], {"job": job["job"]})
            for st in job["stages"]:
                self._child(f"spark.stage.{st['layer']}", job_span, st["start"], st["end"], st)
        return result

    def stages_under(self, span: Span) -> list:
        """Stage attrs of the jobs a ``call`` span ran."""
        jobs = {s.span_id for s in self.spans if s.name == "spark.job" and s.parent == span.span_id}
        return [s.attrs for s in self.spans if s.parent in jobs]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s.trace_id, s.start)):
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    """Tracing off: spans cost one no-op context manager, no job group."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def call(self, name: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt):
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStats:
    """Stage metrics of the jobs run under a job group, read from Spark's
    own status store (works with spark.ui.enabled=false)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc._jsc.sc().statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def _drain(self) -> None:
        # the status listener runs on Spark's async listener bus: wait for
        # it so the jobs just finished are complete in the store
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10000)

    def stage_layer(self, sid: int) -> str:
        """The engine layer a stage belongs to, from the operators in its
        RDD operation graph: ``python`` runs a mapInPandas (on extract the
        OCR stage, with the text-span strip and the partial reassembly
        pipelined into it), ``scan`` reads input files, ``shuffle`` reads
        only shuffle output (on extract the final reassembly)."""
        names, todo = [], [self.store.operationGraphForStage(sid).rootCluster()]
        while todo:
            cluster = todo.pop()
            names.append(cluster.name())
            names.extend(n.name() for n in _scala_iter(cluster.childNodes()))
            todo.extend(_scala_iter(cluster.childClusters()))
        if any("InPandas" in n for n in names):
            return "python"
        if any(n.startswith("Scan") or n == "FileScanRDD" for n in names):
            return "scan"
        return "shuffle"

    def jobs(self, group: str) -> list:
        """The group's jobs with start and end, each with its completed
        stages; a stage shared by two jobs is kept in the first only."""
        self._drain()
        out, seen = [], set()
        for jid in sorted(self.tracker.getJobIdsForGroup(group)):
            job = self.store.job(jid)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is None or end is None:
                continue
            stages = []
            for sid in _scala_iter(job.stageIds()):
                st = self.store.lastStageAttempt(sid)
                s_start, s_end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if (str(st.status()) != "COMPLETE" or s_start is None or s_end is None
                        or sid in seen):
                    continue  # skipped (reused shuffle), not run, or counted
                seen.add(sid)
                stages.append({
                    "stage": int(sid),
                    "job": int(jid),
                    "layer": self.stage_layer(sid),
                    "start": s_start,
                    "end": s_end,
                    "tasks": int(st.numTasks()),
                    "task_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
                    "shuffle_read_mb": st.shuffleReadBytes() / 1e6,
                    "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
                    "output_mb": st.outputBytes() / 1e6,
                })
            out.append({"job": int(jid), "start": start, "end": end, "stages": stages})
        return out


def stage_summary(stages: list, cores: int) -> dict:
    """Aggregate task metrics of a set of stages, plus slot occupancy and
    the straggler wait (per stage: wall minus task-seconds / cores)."""
    keys = ("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "output_mb")
    out = {k: sum(st[k] for st in stages) for k in keys}
    out["jobs"] = len({st["job"] for st in stages})
    out["stages"] = len(stages)
    out["tasks"] = sum(st["tasks"] for st in stages)
    out["tail_s"] = sum(
        max(0.0, (st["end"] - st["start"]) - st["task_s"] / cores) for st in stages
    )
    wall = union_length([(st["start"], st["end"]) for st in stages], float("-inf"),
                        float("inf"))
    out["slot_busy_frac"] = out["task_s"] / (wall * cores) if wall > 0 else 0.0
    return out


# ---------------------------------------------------------------------------
# process-tree resident memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict:
    """ppid -> [pid] over every process visible in /proc."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue  # exited between listdir and open
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
    return children


def alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie (exited, not yet reaped) has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def descendants(root: int) -> list:
    children, out = _children(), []
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc every ``interval`` seconds, with
    the split at the peak: this driver, JVMs, and other processes."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        split = {"driver_mb": _rss(me) / 1e6, "jvm_mb": 0.0, "other_mb": 0.0, "procs": 1}
        for pid in descendants(me):
            key = "jvm_mb" if _comm(pid) == "java" else "other_mb"
            split[key] += _rss(pid) / 1e6
            split["procs"] += 1
        total = split["driver_mb"] + split["jvm_mb"] + split["other_mb"]
        if total * 1e6 > self.peak:
            self.peak, self.split = int(total * 1e6), split

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# box stamp
# ---------------------------------------------------------------------------

@dataclass
class CpuJiffies:
    steal: int
    total: int

    def steal_share_since(self, before: "CpuJiffies") -> float:
        """Share of CPU time the hypervisor gave to other guests since
        ``before`` (0 on bare metal)."""
        total = self.total - before.total
        return (self.steal - before.steal) / total if total else 0.0


def cpu_jiffies() -> CpuJiffies:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return CpuJiffies(steal=fields[7] if len(fields) > 7 else 0, total=sum(fields))


def box_stamp(spark) -> dict:
    import numpy as np
    import pyspark

    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "")
    except OSError:
        pass
    try:
        from numpy.core._multiarray_umath import __cpu_features__

        simd = sorted(k for k, v in __cpu_features__.items() if v)
    except ImportError:
        simd = []
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "cpu_model": cpu,
        "openblas_coretype": os.environ.get("OPENBLAS_CORETYPE", ""),
        "numpy": np.__version__,
        "numpy_simd": simd,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", ""),
        "java": spark._jvm.System.getProperty("java.version"),
    }
