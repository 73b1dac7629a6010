"""Measurement helpers: in-memory spans, Spark status-store counters, JVM
counters, the host's speed and the recorded environment.

Everything here reads state *after* a timed region, except the host-speed
child process, which runs beside the program for the whole run; nothing
runs inside the program's own code paths.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Status-store stage fields summed per op, keyed by the metric they feed.
_STAGE_FIELDS = {
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Tracer:
    """Spans kept in memory and written out once, at exit. ``enabled`` is
    flipped per op by the measurement loop so traced and untraced ops of one
    run can be compared (the tracing overhead)."""

    enabled: bool = False
    op: int | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class SparkCounters:
    """Per-job-group counters from the JVM's ``AppStatusStore`` (readable
    with the UI disabled) plus JVM-wide GC and JIT time.

    Each op tags its jobs with ``spark.jobGroup.id`` so the jobs and stages
    of one op, or one query inside it, can be found after the op ends."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        self._mx = jvm.java.lang.management.ManagementFactory

    def set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store is complete for the jobs already finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, int]:
        """Sums over the stage attempts that ran for ``job_ids`` (stages a
        job skipped because their shuffle output was reused are not
        counted)."""
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(self._conv.asJava(self._store.job(jid).stageIds()))
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["stages"] = 0
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._empty_list, False, self._no_quantiles
            )
            for st in self._conv.asJava(attempts):
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, attr in _STAGE_FIELDS.items():
                    out[key] += int(getattr(st, attr)())
        return out

    def gc_ms(self) -> int:
        return sum(
            int(g.getCollectionTime()) for g in self._mx.getGarbageCollectorMXBeans()
        )

    def jit_ms(self) -> int:
        return int(self._mx.getCompilationMXBean().getTotalCompilationTime())

    def live_heap_mb(self) -> float:
        """Heap still in use after a full collection: what the program keeps
        between ops (caches, persisted blocks, leaks)."""
        self._sc._jvm.System.gc()
        return self._mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def _spin(n: int) -> int:
    s = 0
    for k in range(n):
        s += k * k
    return s


def _runqueue_wait_s() -> float:
    """Seconds the calling thread has spent runnable but waiting for a core
    behind other threads of this machine, from ``schedstat``."""
    with open("/proc/thread-self/schedstat") as fh:
        return int(fh.read().split()[1]) / 1e9


class HostSpeed:
    """How fast the host lets this machine run a fixed piece of work, over
    any interval of the measured window.

    The cores are virtual and shared with other tenants of the host: the
    host both slows them and takes them away for a while (steal time), by
    a fifth or more from one minute to the next, and a run that lands in a
    slow stretch is slow throughout. A child process (``python3 probes.py
    canary``) pins itself to each allowed core in turn and times a fixed
    pure-Python integer loop there, one loop every ``PERIOD_S``, using
    about a fifth of one core. A loop's time is its wall time less the time
    it waited behind this machine's own threads, so the program's threads
    do not move it but a slower or stolen core does. The host speed over an
    interval is the mean loop time of the loops that ended in it.

    On a 4-vCPU KVM guest (2.1 GHz Xeon), over 22 analytics passes in one
    process, log pass time followed log loop time with correlation 0.93
    and slope 1.1, so times are scaled in proportion; across runs of five
    seeds the spread of pass time (quartile distance over median) fell
    from 13-21% to 5-6% when scaled. The child touches no program code and
    writes only its samples file."""

    LOOP = 50_000
    PERIOD_S = 0.016
    # Reference seconds per loop, about a quiet core of a 2.1 GHz Xeon;
    # times are scaled to this speed (any fixed value would do: it cancels
    # when two runs of the benchmark are compared).
    REFERENCE_S = 0.0035

    def __init__(self, path: str):
        self.path = path
        self.proc: subprocess.Popen | None = None
        self._ends: list[float] = []
        self._loops: list[float] = []

    def start(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "canary", self.path,
             str(os.getpid())],
            stdin=subprocess.DEVNULL,
        )

    def stop(self) -> None:
        """Stop the child, wait for it, and load its samples."""
        if self.proc is None:
            return
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.proc = None
        if not os.path.exists(self.path):
            return
        with open(self.path) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) == 2:
                    self._ends.append(float(parts[0]))
                    self._loops.append(float(parts[1]))

    def over(self, t0: float, t1: float) -> float:
        """Mean loop seconds of the loops that ended in ``[t0, t1]``; the
        loop ending nearest ``t1`` if none did."""
        lo = bisect.bisect_left(self._ends, t0)
        hi = bisect.bisect_right(self._ends, t1)
        if hi > lo:
            return statistics.fmean(self._loops[lo:hi])
        if not self._loops:
            raise RuntimeError("the host-speed child recorded no samples")
        return self._loops[min(hi, len(self._loops) - 1)]


def _canary(path: str, parent: int) -> None:
    cpus = sorted(os.sched_getaffinity(0))
    with open(path, "w") as out:
        for i in itertools.count():
            if os.getppid() != parent:
                return
            os.sched_setaffinity(0, {cpus[i % len(cpus)]})
            wait, t = _runqueue_wait_s(), time.perf_counter()
            _spin(HostSpeed.LOOP)
            end = time.perf_counter()
            out.write(f"{end:.6f} {end - t - (_runqueue_wait_s() - wait):.7f}\n")
            out.flush()
            time.sleep(HostSpeed.PERIOD_S)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def environment(spark) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "jvm_options": sc.getConf().get("spark.driver.extraJavaOptions", ""),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "java_vm": jvm.java.lang.System.getProperty("java.vm.name"),
    }


if __name__ == "__main__" and sys.argv[1:2] == ["canary"]:
    _canary(sys.argv[2], int(sys.argv[3]))
