"""Measurements taken from outside the engine: the process tree in
``/proc``, the driver JVM's management beans, and Spark's status store.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop, best of three: a reading of
    the host's own speed, so host drift can be told from a code change."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(600_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def steal_s() -> float:
    """CPU-seconds the hypervisor has given to other guests since boot,
    summed over all CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _stat(pid: int) -> tuple[int, float, float, int] | None:
    """(ppid, own CPU-s, reaped children's CPU-s, rss bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(b")") + 2:].split()
    # fields after the command name start at field 3 (state)
    own = (int(f[11]) + int(f[12])) / _TICK
    reaped = (int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), own, reaped, int(f[21]) * _PAGE


def _jit_cpu(jvm_pid: int) -> float:
    """CPU-seconds of the JVM's JIT compiler threads."""
    total = 0.0
    base = f"/proc/{jvm_pid}/task"
    try:
        tids = os.listdir(base)
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"{base}/{tid}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index(b"(") + 1:raw.rindex(b")")]
        if b"CompilerThre" in comm:
            f = raw[raw.rindex(b")") + 2:].split()
            total += (int(f[11]) + int(f[12])) / _TICK
    return total


class ProcTree:
    """CPU-seconds and resident memory of this process and all of its
    descendants (the driver JVM and the Python workers it forks), split
    into the driver Python, the JVM, the JVM's JIT compiler threads and
    the worker Pythons. ``total`` leaves the JIT out: compilation is
    warm-up work that a long-running session stops paying, and it is
    reported on its own as ``jit``."""

    def __init__(self, jvm_pid: int | None = None):
        self.root = os.getpid()
        self.jvm_pid = jvm_pid
        self.peak_rss = 0

    def sample(self) -> dict[str, float]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        children: dict[int, list[int]] = {}
        for pid, s in stats.items():
            children.setdefault(s[0], []).append(pid)
        parts = {"driver_py": 0.0, "jvm": 0.0, "worker_py": 0.0}
        rss = 0
        stack = [(self.root, "driver_py")]
        while stack:
            pid, part = stack.pop()
            if pid not in stats:
                continue
            if pid == self.jvm_pid:
                part = "jvm"
            elif part == "jvm":
                part = "worker_py"  # everything the JVM forks is a Python worker
            _, own, reaped, r = stats[pid]
            # the root's reaped-children time counts short-lived helpers it
            # waited for; a worker's counts the forked workers it reaped
            parts[part] += own + (reaped if pid != self.root else 0.0)
            rss += r
            stack.extend((c, part) for c in children.get(pid, ()))
        self.peak_rss = max(self.peak_rss, rss)
        parts["jit"] = _jit_cpu(self.jvm_pid) if self.jvm_pid in stats else 0.0
        parts["jvm"] -= parts["jit"]
        parts["total"] = parts["driver_py"] + parts["jvm"] + parts["worker_py"]
        return parts


class Jvm:
    """The driver JVM's JIT and GC clocks, in seconds, and the number of
    classes Spark's whole-stage code generator has compiled."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.heap_max_mb = jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20

    def sample(self) -> dict[str, float]:
        return {
            "jit_s": self._jit.getTotalCompilationTime() / 1000.0,
            "gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "codegen_compiles": self._codegen.getCount(),
        }


def jvm_pid(spark) -> int | None:
    """Pid of the driver JVM, which PySpark launched as a child process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


EXEC_FIELDS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "input_mb",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def _iter(seq):
    """Iterate a Scala collection handed over by py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Per job group executor statistics from Spark's status store (the
    store behind the UI, kept with the UI off). Each call reads only the
    jobs and stages finished since the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        # stageList(statuses, details, withSummaries, quantiles, taskStatuses):
        # empty filters select everything
        self._stage_args = (
            sc._jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList(),
        )
        self._seen_jobs: set[int] = set()

    def read(self) -> tuple[dict[str, dict[str, float]], list[tuple[float, str]]]:
        """Statistics per job group, and (submission epoch-s, group) per
        new job, for attributing jobs to the spans that started them."""
        groups: dict[str, dict[str, float]] = {}
        submitted: list[tuple[float, str]] = []
        stage_group: dict[int, str] = {}
        for job in _iter(self._store.jobsList(None)):
            jid = job.jobId()
            if jid in self._seen_jobs or str(job.status()) == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            grp = job.jobGroup()
            name = grp.get() if grp.isDefined() else ""
            sub = job.submissionTime()
            submitted.append((sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0, name))
            g = groups.setdefault(name, dict.fromkeys(EXEC_FIELDS, 0.0))
            g["jobs"] += 1
            for sid in _iter(job.stageIds()):
                stage_group[sid] = name
        if not stage_group:
            return groups, submitted
        for st in _iter(self._store.stageList(*self._stage_args)):
            name = stage_group.get(st.stageId())
            if name is None or str(st.status()) != "COMPLETE":
                continue
            g = groups[name]
            g["stages"] += 1
            g["tasks"] += st.numCompleteTasks()
            g["task_s"] += st.executorRunTime() / 1e3
            g["cpu_s"] += st.executorCpuTime() / 1e9
            g["input_mb"] += st.inputBytes() / 2**20
            g["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / 2**20
            g["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            g["spill_mb"] += st.diskBytesSpilled() / 2**20
        return groups, submitted

    def storage_mb(self) -> float:
        """Memory and disk held by persisted RDD blocks right now."""
        total = 0
        for rdd in _iter(self._store.rddList(True)):
            total += rdd.memoryUsed() + rdd.diskUsed()
        return total / 2**20
