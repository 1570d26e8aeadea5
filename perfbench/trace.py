"""Spans, Spark counters and /proc readings for the traced run.

A span wraps one call from the benchmark into a public function of a
repo module; its layer is that module's name.  With tracing off,
``Tracer.span`` does nothing.  With tracing on, each span gets a Spark
job group, and at its end the tracer drains the listener bus, reads
back every job submitted while it was open (jobs are numbered in
submission order, so this also catches jobs the library submits from
its own thread pools), and sums their tasks and shuffle bytes from the
status tracker and the status store.  CPU time comes from /proc deltas
of the driver, the JVM and the JVM's Python workers.
"""

from __future__ import annotations

import gc
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

_TICK = os.sysconf("SC_CLK_TCK")

LAYERS = [
    "session",
    "catalog",
    "operators.graph",
    "operators.ch",
    "operators.dedup",
    "operators.similarity",
    "functions.text",
    "sources.geojson",
    "sources.parquet_store",
    "operators.mutations",
    "nxview",
    "operators.spatial",
]
COUNTERS = {
    "calls": "count",
    "busy_s": "s",
    "self_s": "s",
    "driver_cpu_s": "s",
    "jvm_cpu_s": "s",
    "udf_cpu_s": "s",
    "jobs": "count",
    "tasks": "count",
    "shuffle_bytes": "bytes",
    "failed": "count",
}
_SUMMED = ("driver_cpu_s", "jvm_cpu_s", "udf_cpu_s", "jobs", "tasks", "shuffle_bytes")


def _stat(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # field 2 (comm) may hold spaces; everything after its ')' splits cleanly
    return raw[raw.rindex(")") + 2:].split()


def _cpu_s(fields: list[str], children: bool) -> float:
    # after comm: [11]=utime [12]=stime [13]=cutime [14]=cstime
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(name)
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def cpu_sample(jvm_pid: int | None) -> tuple[float, float, float]:
    """(driver, JVM, Python-worker) CPU seconds so far.  Worker CPU is
    every live JVM descendant plus what the JVM and the descendants
    have reaped, so exited workers are not lost."""
    me = _stat("self")
    driver = _cpu_s(me, False) if me else 0.0
    jf = _stat(jvm_pid) if jvm_pid is not None else None
    if jf is None:
        return driver, 0.0, 0.0
    jvm = _cpu_s(jf, False)
    udf = _cpu_s(jf, True) - jvm
    for pid in descendants(jvm_pid):
        f = _stat(pid)
        if f is not None:
            udf += _cpu_s(f, True)
    return driver, jvm, udf


def _hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int | None) -> dict[str, float]:
    """Peak resident set (VmHWM) of the driver, the JVM and the sum
    over the JVM's live Python workers."""
    out = {"driver": _hwm_mb("self"), "jvm": 0.0, "workers": 0.0}
    if jvm_pid is not None:
        out["jvm"] = _hwm_mb(jvm_pid)
        out["workers"] = sum(_hwm_mb(p) for p in descendants(jvm_pid))
    return out


def jvm_held_mb(spark) -> float:
    """Heap the JVM still holds after full GCs, plus its non-heap use
    (metaspace, code cache): the JVM's share of memory held by caches,
    without the GC-timing noise of its resident set.  Each GC lets
    Spark's context cleaner drop the blocks of RDDs it found dead,
    which frees more at the next GC, so GCs repeat (Python's proxies
    collected first each time) until three GCs in a row free nothing:
    after two, the heap sometimes still held 120–260 MB of dead blocks
    that a later GC freed."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap, steady = float("inf"), 0
    for _ in range(16):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.25)
        now = mx.getHeapMemoryUsage().getUsed()
        steady = steady + 1 if now > 0.99 * heap else 0
        heap = min(heap, now)
        if steady == 3:
            break
    return (heap + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


@dataclass
class Span:
    layer: str
    name: str
    op_id: int | None
    parent: int | None
    start: float
    end: float = 0.0
    failed: int = 0
    driver_cpu_s: float = 0.0
    jvm_cpu_s: float = 0.0
    udf_cpu_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    extra: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._spark = None
        self.jvm_pid: int | None = None
        self.t0 = time.perf_counter()

    def attach(self, spark) -> None:
        self._spark = spark
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def _job_watermark(self) -> int:
        if self._spark is None:
            return 0
        return int(self._spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, layer: str, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sp = Span(layer, name, op_id, parent, time.perf_counter() - self.t0)
        idx = len(self.spans)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        if self._spark is not None:
            self._spark.sparkContext.setJobGroup(f"op{op_id}:{layer}", name)
        wm = self._job_watermark()
        cpu0 = cpu_sample(self.jvm_pid)
        try:
            yield sp
        except Exception:
            sp.failed = 1
            raise
        finally:
            sp.end = time.perf_counter() - self.t0
            self._stack.pop()
            # the session span attaches the tracer inside itself, so the
            # session may exist at the end of a span but not at its start
            if self._spark is not None:
                sc = self._spark.sparkContext
                self._read_jobs(sp, wm)
                if self._stack:
                    up = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"op{up.op_id}:{up.layer}", up.name)
                else:
                    sc._jsc.clearJobGroup()
            cpu1 = cpu_sample(self.jvm_pid)
            sp.driver_cpu_s = cpu1[0] - cpu0[0]
            sp.jvm_cpu_s = cpu1[1] - cpu0[1]
            sp.udf_cpu_s = cpu1[2] - cpu0[2]

    def _read_jobs(self, sp: Span, wm: int) -> None:
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        end = self._job_watermark()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        sp.jobs = end - wm
        for jid in range(wm, end):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                sp.tasks += st.numCompletedTasks
                try:
                    data = store.stageAttempt(sid, st.currentAttemptId, False, None, False, None)
                    sp.shuffle_bytes += int(data._1().shuffleWriteBytes())
                except Py4JError:
                    pass  # skipped stage: no attempt recorded

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                rec = {k: v for k, v in sp.__dict__.items() if k != "children"}
                rec["id"] = i
                fh.write(json.dumps(rec) + "\n")

    def layer_totals(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """Per-layer counters over ``spans``.  ``busy_s`` is the summed
        span time, ``self_s`` that minus the time child spans cover; the
        other counters are attributed to the innermost open span."""
        out = {layer: {c: 0.0 for c in COUNTERS} for layer in LAYERS}
        for sp in spans:
            if sp.layer not in out:
                continue
            kids = [self.spans[c] for c in sp.children]
            row = out[sp.layer]
            row["calls"] += 1
            row["busy_s"] += sp.end - sp.start
            row["self_s"] += (sp.end - sp.start) - sum(k.end - k.start for k in kids)
            row["failed"] += sp.failed
            for c in _SUMMED:
                row[c] += getattr(sp, c) - sum(getattr(k, c) for k in kids)
        return out
