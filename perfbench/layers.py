"""Measurements taken from outside the engine, one group per layer.

Nothing here replaces an engine function. Operators bind ``pin`` and
``load`` by name at import time, so the counters sit on the public
PySpark methods those functions call (``DataFrameReader.parquet``,
``DataFrame.localCheckpoint``), and everything else is read from the
JVM's status store, the query's plan tracker, a streaming listener and
``/proc``.
"""

from __future__ import annotations

import os
import time

_TCK = os.sysconf("SC_CLK_TCK")


# --- box and process CPU (/proc) ------------------------------------------


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, own jiffies, own + reaped-children jiffies)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        f = s[s.rfind(")") + 2:].split()
        own = int(f[11]) + int(f[12])
        out[int(d)] = (int(f[1]), own, own + int(f[13]) + int(f[14]))
    return out


class Cpu:
    """CPU-seconds of the JVM process tree (its Python workers included)
    plus this driver process."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def sample(self) -> tuple[float, float]:
        """(total CPU-s, CPU-s of the JVM's Python worker processes)."""
        stats = _proc_stats()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        tree, stack = 0, [self.jvm_pid]
        while stack:
            pid = stack.pop()
            if pid in stats:
                tree += stats[pid][2]
                stack.extend(children.get(pid, ()))
        jvm_own = stats.get(self.jvm_pid, (0, 0, 0))[1]
        return tree / _TCK + time.process_time(), (tree - jvm_own) / _TCK


def steal_s() -> float:
    """Machine-wide steal time so far, in CPU-seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TCK


def calib_s() -> float:
    """Wall time of a fixed single-thread CPU kernel; it moves only when
    the machine does."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def mem_total_kib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


# --- spans ----------------------------------------------------------------


class Spans:
    """Spans kept in memory and written out once, at exit."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            op: int | None = None, **attrs) -> int:
        sid = len(self.rows)
        self.rows.append({
            "id": sid, "parent": parent, "op": op, "name": name,
            "start": round(start, 6), "end": round(end, 6), **attrs,
        })
        return sid


# --- counters at public PySpark methods ------------------------------------


class Counters:
    """Counts and times calls to ``DataFrameReader.parquet`` (table loads)
    and ``DataFrame.localCheckpoint`` (pins)."""

    def __init__(self):
        self.parquet_opens = 0
        self.parquet_open_s = 0.0
        self.pins = 0

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame
        parquet = DataFrameReader.parquet
        local_checkpoint = DataFrame.localCheckpoint

        def counted_parquet(reader, *paths, **options):
            t0 = time.perf_counter()
            try:
                return parquet(reader, *paths, **options)
            finally:
                self.parquet_opens += 1
                self.parquet_open_s += time.perf_counter() - t0

        def counted_checkpoint(df, *args, **kwargs):
            self.pins += 1
            return local_checkpoint(df, *args, **kwargs)

        DataFrameReader.parquet = counted_parquet
        DataFrame.localCheckpoint = counted_checkpoint

    def snapshot(self) -> tuple[int, float, int]:
        return self.parquet_opens, self.parquet_open_s, self.pins


# --- JVM side: listener bus, status store, plan tracker, storage ----------


class Jvm:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def drain_listener_bus(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def gc(self) -> None:
        self.sc._jvm.java.lang.System.gc()

    def persisted_rdds(self) -> int:
        return int(self.jsc.getPersistentRDDs().size())

    def storage_bytes(self) -> int:
        return sum(
            int(i.memSize()) + int(i.diskSize())
            for i in self.jsc.getRDDStorageInfo()
        )

    def group_jobs(self, group: str) -> dict:
        """Jobs, stages, tasks and stage metrics of one job group, read
        from the status store (call after ``drain_listener_bus``)."""
        store = self.jsc.statusStore()
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "s": 0.0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0,
        }
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out["jobs"] += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                out["s"] += (end.get().getTime() - sub.get().getTime()) / 1e3
            ids = job.stageIds()
            for i in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(i))
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read"] += st.shuffleReadBytes()
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def plan_phases(df) -> dict[str, float]:
    """Plan the query and return the tracker's Catalyst phase seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


def streaming_listener(spark):
    """A listener that keeps every micro-batch's progress; install once."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append({
                "run_id": str(p.runId),
                "rows": int(p.numInputRows),
                "ms": dict(p.durationMs),
                "timestamp": p.timestamp,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def dir_bytes(*paths: str) -> int:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
