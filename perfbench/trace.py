"""Spans, Spark-side counters and the memory sampler.

Spans are recorded by the benchmark around each call it makes into a
layer of the engine; nothing inside the engine is instrumented.  They stay
in memory and are written out when the run ends.  Spark's status tracker
and ``QueryExecution`` are read only when tracing is on.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Records spans and per-op counters when ``enabled``; when disabled
    every method is a no-op, so untraced runs pay nothing but the call."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, list[float]] = field(
        default_factory=lambda: defaultdict(list)
    )
    op: int | None = None
    overhead_s: float = 0.0  # time spent reading Spark-side counters
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def overhead(self):
        """Charge the enclosed reads to the tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name].append(float(value))

    def durations(self, name: str) -> list[float]:
        """Durations (seconds) of every span called ``name``."""
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (seconds): a span's duration
        minus the time its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "self_time_s": self.self_times(),
                    "spans": [s.__dict__ for s in self.spans],
                },
                f,
            )


# -- Spark-side reads (traced runs only) ---------------------------------------

def job_group_stats(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks, failed tasks, shuffle-write and spill bytes of
    every job run under ``group`` (status tracker + status store)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    empty_list = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict(jobs=0, stages=0, tasks=0, failed_tasks=0,
               shuffle_write_bytes=0, spill_bytes=0)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped stage (reused shuffle output)
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks + st.numFailedTasks
            out["failed_tasks"] += st.numFailedTasks
            data = store.stageAttempt(
                stage_id, st.currentAttemptId, False, empty_list, False,
                no_quantiles,
            )._1()
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds recorded by the
    ``QueryPlanningTracker`` of ``df``'s QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class CpuClock:
    """CPU seconds spent by the benchmark's calling thread plus every Java
    thread of the session's JVM: the py4j thread that plans, the
    scheduler, the task threads.  JIT compiler and GC threads are not
    Java threads and are left out, and so is time the machine did not
    run a thread at all (steal): on a shared host both vary from run to
    run by more than the program's own work does.  Contention still
    reaches it through shared caches and cores — about a third more CPU
    per op at a tenth of the machine's time stolen, against half again
    more wall time."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        self._mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        # called through the exported interface: py4j cannot reach the
        # method on the bean's internal class
        sig = gw.new_array(jvm.java.lang.Class, 1)
        sig[0] = jvm.java.lang.Class.forName("[J")
        self._cpu_of = jvm.java.lang.Class.forName("com.sun.management.ThreadMXBean") \
            .getMethod("getThreadCpuTime", sig)
        self._args = gw.new_array(jvm.java.lang.Object, 1)
        self._arrays = jvm.java.util.Arrays

    def _jvm_s(self) -> float:
        self._args[0] = self._mx.getAllThreadIds()
        per_thread = self._cpu_of.invoke(self._mx, self._args)  # -1 ns: thread gone
        return self._arrays.stream(per_thread).sum() / 1e9

    def start(self) -> float:
        jvm_s = self._jvm_s()
        return time.thread_time() + jvm_s

    def stop(self) -> float:
        here = time.thread_time()  # read first: the JVM calls below are not the op's
        return here + self._jvm_s()


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Seconds the session's JVM has spent in garbage collection and in JIT
    compilation since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return gc / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000


# -- memory ---------------------------------------------------------------------

def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the JVM is a child) from a background thread; ``peak_mb``
    is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *_descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
