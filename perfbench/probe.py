"""Measurement plumbing: Spark work counters, memory, host state, spans.

Everything here reads state; nothing changes how the program runs.

* ``SparkCounters`` reads Spark's status store after an op and returns
  the work done since the previous read: jobs, completed tasks, input,
  shuffle and spill bytes, executor CPU time.  Jobs are found by id
  (ids are dense and increasing), so jobs started on streaming threads
  count too; job-group tagging would miss them.  Reading after every op
  also keeps clear of the store's retention limit (1000 jobs).
* ``ProcessCpu`` reads the CPU time of the Python process and the JVM.
* ``Tracer`` keeps spans in memory in traced runs and is a no-op in
  untraced ones.
"""

from __future__ import annotations

import os
import resource
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0


class SparkCounters:
    FIELDS = ("jobs", "tasks", "input_mb", "shuffle_mb", "spill_mb",
              "task_cpu_s")

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self._sc.statusTracker()
        self._next_job = 0
        self._next_stage = 0
        self.read()  # skip the work done before the counters existed

    def read(self) -> dict:
        """Work done since the previous ``read``."""
        # the status store is fed asynchronously by the listener bus:
        # drain it so every finished job and stage is visible
        self._bus.waitUntilEmpty(120_000)
        out = dict.fromkeys(self.FIELDS, 0.0)
        stages = set()
        while True:
            info = self._tracker.getJobInfo(self._next_job)
            if info is None:
                break
            out["jobs"] += 1
            stages.update(info.stageIds)
            self._next_job += 1
        # a stage reused (skipped) by a later job belongs to the op that
        # ran it: count each stage id once, when it is new
        new = sorted(s for s in stages if s >= self._next_stage)
        for sid in new:
            sd = self._store.lastStageAttempt(sid)
            out["tasks"] += sd.numCompleteTasks()
            out["input_mb"] += sd.inputBytes() / MB
            out["shuffle_mb"] += (sd.shuffleReadBytes()
                                  + sd.shuffleWriteBytes()) / MB
            out["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / MB
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        if new:
            self._next_stage = new[-1] + 1
        return out

    def gc_s(self) -> float:
        """Total JVM garbage-collection time so far (all collectors)."""
        beans = (self._spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def jvm_pid(self) -> int:
        return int(self._spark._jvm.ProcessHandle.current().pid())


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident memory of this Python process plus the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return py + _vm_hwm_mb(jvm_pid)


def _proc_cpu_s(path: str) -> float:
    """User plus system CPU seconds from a ``/proc`` ``stat`` file: of a
    whole process (all its threads, dead ones included) or of one
    thread (``/proc/<pid>/task/<tid>/stat``)."""
    with open(path) as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class ProcessCpu:
    """CPU seconds used so far by this Python process, by the JVM, and by
    the JVM's JIT compiler threads.

    Time the hypervisor steals from a virtual CPU is charged to no
    process, so on a shared host CPU time repeats far better than wall
    time.  What the JIT compiles, and when, varies from run to run, and
    in a short run it is the JVM's largest consumer of CPU, so the
    compiler threads are read on their own; the runs keep them alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``) so that their time can
    be read.  The JVM figures are read from ``/proc`` (10 ms ticks), so
    reading them costs the JVM nothing."""

    def __init__(self, jvm_pid: int):
        self._jvm = f"/proc/{jvm_pid}/stat"
        task_dir = f"/proc/{jvm_pid}/task"
        self._jit = []
        for tid in os.listdir(task_dir):
            with open(f"{task_dir}/{tid}/comm") as fh:
                if fh.read().startswith(JIT_THREADS):
                    self._jit.append(f"{task_dir}/{tid}/stat")

    def read(self) -> "tuple[float, float, float]":
        """(Python, JVM without JIT, JIT) CPU seconds so far."""
        jit = sum(_proc_cpu_s(p) for p in self._jit)
        return time.process_time(), _proc_cpu_s(self._jvm) - jit, jit


# ---------------------------------------------------------------------------
# host state (diagnostics, not metrics)
# ---------------------------------------------------------------------------


def _cpu_times():
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def calibrate_s() -> float:
    """Time of a fixed pure-Python loop: the same work on every run, so a
    slower reading means a slower (busier) host, not a slower program."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t


class HostState:
    def __init__(self):
        self._t0 = _cpu_times()
        self.calib_start_s = calibrate_s()
        self.load_start = os.getloadavg()

    def finish(self) -> dict:
        total0, steal0 = self._t0
        total1, steal1 = _cpu_times()
        steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        return {
            "steal_pct": round(steal_pct, 3),
            "load_start": [round(v, 2) for v in self.load_start],
            "load_end": [round(v, 2) for v in os.getloadavg()],
            "calib_start_s": round(self.calib_start_s, 4),
            "calib_end_s": round(calibrate_s(), 4),
            "cpus": len(os.sched_getaffinity(0)),
        }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (op id, name, parent name, start, end).

    Off: ``span`` only yields.  On: spans nest; ``add`` accumulates a
    count at the current boundary.  ``self_times`` gives, per op, each
    span's duration minus its children's."""

    def __init__(self, on: bool):
        self.on = on
        self.spans = []
        self.counts = defaultdict(float)
        self._stack = []
        self.op_id = None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append((self.op_id, name, parent, t0, t1))

    def add(self, name: str, value: float) -> None:
        if self.on:
            self.counts[name] += value

    def totals(self, op_ids) -> dict:
        """Summed duration per span name over the given ops."""
        keep = set(op_ids)
        out = defaultdict(float)
        for op, name, _parent, t0, t1 in self.spans:
            if op in keep:
                out[name] += t1 - t0
        return out

    def coverage(self, op_ids) -> "tuple[float, float]":
        """Worst and median share of each op's wall time that its child
        spans cover (self time of the ``op`` span is what is left)."""
        keep = set(op_ids)
        wall, child = defaultdict(float), defaultdict(float)
        for op, name, parent, t0, t1 in self.spans:
            if op not in keep:
                continue
            if name == "op":
                wall[op] += t1 - t0
            elif parent == "op":
                child[op] += t1 - t0
        shares = sorted(child[o] / wall[o] for o in wall if wall[o] > 0)
        if not shares:
            return 0.0, 0.0
        return shares[0], shares[len(shares) // 2]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for op, name, parent, t0, t1 in self.spans:
                fh.write(json.dumps({"op": op, "name": name,
                                     "parent": parent, "start": t0,
                                     "end": t1}) + "\n")
