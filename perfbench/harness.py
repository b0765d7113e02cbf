"""Measurement plumbing shared by the workloads: process clock, box record,
calibration, peak RSS, Spark counters read through public status APIs, and
the span tracer. Nothing here changes what the engine does; it only times
calls into it and reads counters from outside.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import time

# --------------------------------------------------------------------------
# clocks and statistics
# --------------------------------------------------------------------------


def process_start_wall() -> float:
    """Wall-clock time at which this process was started (from /proc), so
    set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at
    least 10 samples beyond it; with fewer than 20 samples that is the
    median."""
    v = sorted(values)
    k = len(v) - 11
    if k + 1 <= len(v) / 2:
        return median(v), 50.0
    return float(v[k]), 100.0 * (k + 1) / len(v)


# --------------------------------------------------------------------------
# the box
# --------------------------------------------------------------------------


def _cgroup_memory_limit_mb() -> float | None:
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        return float(raw) / 2**20 if raw.isdigit() else None
    return None


def box_info() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "cgroup_memory_limit_mb": _cgroup_memory_limit_mb(),
        "pyspark": pyspark.__version__,
    }


def calibrate() -> dict:
    """Code- and data-independent box speed: sha256 over 32 MiB of fixed
    bytes (CPU) and a 128 MiB single-thread copy (memory bandwidth).
    Recorded before and after each run so drift between runs is visible."""
    block = b"\xa5" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(512):
        h.update(block)
    h.digest()
    sha_s = time.perf_counter() - t0
    buf = bytearray(128 << 20)
    t0 = time.perf_counter()
    copy = bytes(buf)
    copy_s = time.perf_counter() - t0
    del copy, buf
    return {"sha256_mb_per_s": round(32 / sha_s, 1),
            "memcpy_gb_per_s": round(0.125 / copy_s, 3)}


# --------------------------------------------------------------------------
# peak resident memory of the driver process tree
# --------------------------------------------------------------------------


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


class PeakRss:
    """Sum of VmHWM over this process, the driver JVM and its Python worker
    processes. Workers come and go, so each pid's peak is kept across
    samples; call :meth:`sample` between operations."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        todo = [os.getpid(), self.jvm_pid]
        seen = set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _vm_hwm_kb(pid))
            if pid != os.getpid():
                todo.extend(_children(pid))

    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


# --------------------------------------------------------------------------
# Spark counters, per job group
# --------------------------------------------------------------------------

COUNTER_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "gc_s",
                "scan_mb", "shuffle_write_mb", "spill_mb")


class SparkCounters:
    """Reads per-operation counters through public status APIs: the status
    tracker for the jobs and stages of a job group, and the status store
    for each stage's task metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()

    def heap_committed_mb(self) -> float:
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getCommitted() / 2**20

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        as_java = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        out = dict.fromkeys(COUNTER_KEYS, 0.0)
        stages = set()
        for job in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job)
            if info is not None:
                out["jobs"] += 1
                stages.update(info.stageIds)
        for sid in stages:
            try:
                attempts = as_java(store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False, None))
            except Py4JJavaError:  # evicted from the store
                continue
            for d in attempts:
                done = d.numCompleteTasks() + d.numFailedTasks()
                if done == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += done
                out["failed_tasks"] += d.numFailedTasks()
                out["run_s"] += d.executorRunTime() / 1000.0
                out["gc_s"] += d.jvmGcTime() / 1000.0
                out["scan_mb"] += d.inputBytes() / 2**20
                out["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 2**20
        return out


def spark_layer_metrics(ops: list[dict], cores: int) -> dict:
    """The ``spark.*`` per-layer metrics over the traced operations: per
    operation medians of the counts, busy share over their total wall."""
    traced = [o for o in ops if o.get("counters")]
    out = {}
    for k in ("jobs", "stages", "tasks", "scan_mb", "shuffle_write_mb", "spill_mb", "gc_s"):
        out[f"spark.{k}"] = median([o["counters"][k] for o in traced])
    wall = sum(o["end"] - o["start"] for o in traced)
    run = sum(o["counters"]["run_s"] for o in traced)
    out["spark.busy_share"] = run / (wall * cores) if wall else 0.0
    out["spark.failed_tasks"] = sum(o["counters"]["failed_tasks"] for o in traced)
    return out


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id.
    Disabled tracers hand out a no-op context so untraced operations pay
    nothing but one attribute check."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.on = False

    @contextlib.contextmanager
    def _span(self, name: str, op):
        rec = {"name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def span(self, name: str, op=None):
        return self._span(name, op) if self.on else contextlib.nullcontext()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(i, []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"] or s["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out
