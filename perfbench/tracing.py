"""Measurement: process-tree CPU and memory from ``/proc``, and spans
joined to the Spark status store.

``ProcTree`` reads the benchmark process and every descendant (the
JVM, the PySpark daemon and its Python workers). ``JvmMemory`` reads
the JVM's own accounts of the memory it holds. ``Tracer`` records
spans around calls into the package; with tracing off its ``span`` is
a no-op, so the untraced run pays nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int):
    """``(comm, ppid, cpu_ticks, rss_pages)`` of one process, or None
    if it exited. ``cpu_ticks`` counts the process and its reaped
    children, so work of Python workers that already exited stays in
    their parent's total."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return comm, int(fields[1]), ticks, int(fields[21])


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except FileNotFoundError:
            continue
        ticks += sum(int(x) for x in raw[raw.rindex(")") + 2 :].split()[11:13])
    return ticks


class ProcTree:
    """CPU seconds by role of this process tree, and the peak memory
    the program holds while sampling runs.

    Roles: ``driver`` (this process), ``jvm`` (the JVM, less its JIT
    compiler threads), ``jit`` (those threads) and ``pyworker`` (the
    PySpark daemon and its workers)."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_mem_mb = 0.0
        self._sampler: threading.Thread | None = None
        self._stop = threading.Event()

    def snapshot(self, jit: bool = True) -> dict:
        """``{"driver"|"jvm"|"jit"|"pyworker": cpu_s, "py_rss_mb": mb}``
        now, where ``py_rss_mb`` is the resident memory of the Python
        processes. ``jit=False`` skips the per-thread scan and counts
        JIT CPU as ``jvm``."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out = {"driver": 0.0, "jvm": 0.0, "jit": 0.0, "pyworker": 0.0, "py_rss_mb": 0.0}
        todo = [(self.root, "driver")]
        while todo:
            pid, role = todo.pop()
            if pid not in stats:
                continue
            comm, _, ticks, rss = stats[pid]
            if pid != self.root:
                role = "jvm" if comm.startswith("java") else "pyworker"
            if role == "jvm" and jit:
                jit_ticks = _jit_ticks(pid)
                out["jit"] += jit_ticks / _CLK
                ticks -= jit_ticks
            out[role] += ticks / _CLK
            if role != "jvm":
                out["py_rss_mb"] += rss * _PAGE / 2**20
            todo.extend((c, role) for c in children.get(pid, []))
        # the JVM's reaped children are its own helpers; Python workers
        # are forked by the PySpark daemon, which reaps them itself
        return out

    @staticmethod
    def cpu(snap: dict) -> float:
        """CPU seconds of the program's own work: every role but ``jit``."""
        return snap["driver"] + snap["jvm"] + snap["pyworker"]

    def mem_mb(self) -> float:
        """Memory the program holds now: the Python processes' resident
        memory plus what the JVM holds (``JvmMemory``)."""
        return self.snapshot(jit=False)["py_rss_mb"] + self.jvm.mb()

    def start_sampling(self, jvm: "JvmMemory", period_s: float = 0.25) -> None:
        """Track peak ``mem_mb`` on a background thread."""
        self.jvm = jvm

        def loop():
            while not self._stop.wait(period_s):
                self.peak_mem_mb = max(self.peak_mem_mb, self.mem_mb())

        self.peak_mem_mb = self.mem_mb()
        self._stop.clear()
        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop_sampling(self) -> None:
        if self._sampler is not None:
            self._stop.set()
            self._sampler.join(timeout=5)
            self._sampler = None
        self.peak_mem_mb = max(self.peak_mem_mb, self.mem_mb())


class JvmMemory:
    """Memory the JVM holds for the program: the execution and storage
    memory Spark's memory manager has granted (sort, aggregation and
    join buffers, cached and broadcast blocks), plus non-heap memory
    (metaspace, code cache) and direct buffers in use.

    Neither the JVM's resident size nor its heap in use is used. With a
    fixed heap, the collector touches every heap page and lets garbage
    fill the young generation, so both approach the heap size whatever
    the program keeps alive. Heap in use after the latest collection
    moved between 300 and 870 MB from one sample to the next on one
    input, with the timing of the collections."""

    def __init__(self, spark):
        jvm = spark.sparkContext._gateway.jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._spark_memory = jvm.org.apache.spark.SparkEnv.get().memoryManager()
        self._mem = mf.getMemoryMXBean()
        self._buffers = list(mf.getPlatformMXBeans(
            jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
        ))

    def mb(self) -> float:
        granted = self._spark_memory.executionMemoryUsed() + self._spark_memory.storageMemoryUsed()
        other = self._mem.getNonHeapMemoryUsage().getUsed() + sum(
            b.getMemoryUsed() for b in self._buffers
        )
        return (granted + other) / 2**20


SPARK_KEYS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_skew", "driver_s",
)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    """Spans around calls into the package, each tagged with its own
    Spark job group so the jobs it triggered can be read back from the
    status store. Spans stay in memory; ``run.py`` writes them out when
    the run ends."""

    def __init__(self, spark, enabled: bool, procs: ProcTree):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = 0
        self._sc = spark.sparkContext
        self._procs = procs
        self._stack: list[dict] = []
        self._ids = itertools.count()

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
        }
        group = f"perfbench-{os.getpid()}-{sid}"
        self._stack.append(rec)
        self._sc.setJobGroup(group, name, False)
        p0 = self._procs.snapshot()
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            p1 = self._procs.snapshot()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(
                    f"perfbench-{os.getpid()}-{parent['id']}", parent["name"], False
                )
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            rec["proc"] = {k: p1[k] - p0[k] for k in ("driver", "jvm", "jit", "pyworker")}
            rec["spark"], rec["job_intervals"] = self._spark_metrics(group)
            self.spans.append(rec)

    def _spark_metrics(self, group: str) -> tuple[dict, list]:
        """Sum the status-store metrics of the group's jobs.

        ``stageIds`` is a Scala ``Seq``: index it with ``apply``.
        ``executorCpuTime`` covers JVM task threads only; Python-worker
        CPU is in the span's ``proc`` record instead.
        """
        jsc = self._sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        m = dict.fromkeys(SPARK_KEYS, 0.0)
        intervals, skews = [], []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            m["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    )
                )
            ids = job.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                attempts = store.stageData(sid, False, None, False, None)
                for a in range(attempts.length()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    m["stages"] += 1
                    m["tasks"] += st.numCompleteTasks()
                    m["exec_run_s"] += st.executorRunTime() / 1e3
                    m["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    m["gc_s"] += st.jvmGcTime() / 1e3
                    m["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                    m["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                    m["spill_mb"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    ) / 2**20
                    if st.numCompleteTasks() >= 2:
                        summ = store.taskSummary(sid, st.attemptId(), q)
                        if summ.isDefined():
                            dur = summ.get().duration()
                            med, top = dur.apply(0), dur.apply(1)
                            if med > 0:
                                skews.append(top / med)
        m["task_skew"] = max(skews, default=0.0)
        return m, intervals

    def run_totals(self, run: int, root: str) -> dict:
        """Spark engine and process CPU totals of one run.

        Every job belongs to exactly one span's group, so sums over all
        spans of the run count each job once. ``driver_s`` is the time
        of the ``root`` span that no job of the run covers."""
        spans = [s for s in self.spans if s["run"] == run]
        top = next(s for s in spans if s["name"] == root)
        out = {k: sum(s["spark"][k] for s in spans) for k in SPARK_KEYS}
        out["task_skew"] = max(s["spark"]["task_skew"] for s in spans)
        busy = _union_s([iv for s in spans for iv in s["job_intervals"]])
        out["driver_s"] = max(top["end"] - top["start"] - busy, 0.0)
        out.update({f"{k}_cpu_s": top["proc"][k] for k in ("driver", "jvm", "jit", "pyworker")})
        return out

    def seconds(self, name: str) -> float:
        """Median duration of the spans called ``name`` in measured runs."""
        return median([s["end"] - s["start"] for s in self.spans if s["name"] == name and s["run"] > 0])


def median(values):
    return statistics.median(values) if values else 0.0
