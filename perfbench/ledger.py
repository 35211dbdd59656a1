"""Measurement plumbing: spans, process-tree memory, host CPU counters,
CPU pinning, and readers for Spark's own status stores.

Every reader here works with the Spark UI off: ``AppStatusStore`` holds
the per-stage task metrics and ``SQLAppStatusStore`` the per-plan-node
SQL metrics (the only place the Python worker time of a pandas UDF is
recorded). Stages and SQL executions are attributed to a layer through
the job group the benchmark sets around that layer's action.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

# -------------------------------------------------------------- spans --


class Spans:
    """In-memory span list (name, start, end, parent), written once at
    the end of the run. Times are ``perf_counter`` seconds."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.rows: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        row = {"trace": self.trace_id, "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter()}
        self._open.append(name)
        try:
            yield row
        finally:
            self._open.pop()
            row["end"] = time.perf_counter()
            self.rows.append(row)

    def duration(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)

    def with_self_times(self) -> list[dict]:
        """Each span with ``self_s``: its duration minus the part of its
        interval that its child spans cover."""
        out = []
        for r in sorted(self.rows, key=lambda r: r["start"]):
            kids = sorted((c["start"], c["end"]) for c in self.rows
                          if c["parent"] == r["name"] and c is not r
                          and r["start"] <= c["start"] <= r["end"])
            covered, edge = 0.0, r["start"]
            for s, e in kids:
                s, e = max(s, edge), min(e, r["end"])
                if e > s:
                    covered += e - s
                    edge = e
            out.append(dict(r, dur_s=r["end"] - r["start"],
                            self_s=r["end"] - r["start"] - covered))
        return out


# ------------------------------------------------------ process tree --


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (driver, JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = _ppid(int(entry))
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as fh:
        return int(fh.read().rsplit(")", 1)[1].split()[1])


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Memory of the process tree: the proportional set size (PSS) of
    each process, so the Python workers forked from one daemon count the
    pages they share once between them. The JVM is the exception: its
    pages are private (PSS equals RSS within 0.1%), and reading its
    smaps_rollup costs about 20 ms, so its RSS is read instead. A JVM
    child that is still the JVM binary is a fork about to exec a helper
    (Hadoop's local file system runs chmod that way); it shares the
    JVM's pages, so it is skipped."""
    page = os.sysconf("SC_PAGE_SIZE")
    tree = process_tree(root)
    jvms = {p for p in tree if _exe(p).endswith("/java")}
    total = 0
    for pid in tree:
        try:
            if pid not in jvms:
                total += _pss_bytes(pid)
            elif _ppid(pid) not in jvms:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return total


class PeakMemory:
    """Samples the memory of this process's tree every ``interval``
    seconds between ``start()`` and ``stop()``; ``peak`` is the largest
    sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_memory_bytes(me))
            if self._halt.wait(self.interval):
                return

    def start(self) -> None:
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes(os.getpid()))
        return self.peak


def host_cpu() -> list[int]:
    """The host's aggregate CPU counters (user ... steal, in clock ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two ``host_cpu`` readings
    that the hypervisor gave to other guests (the ``steal`` column)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class OldGen:
    """Peak occupancy of the JVM's old generation since ``reset()``: the
    heap that outlived young collections, i.e. what the plan holds."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().toString() == "Heap memory"
                      and "Old" in p.getName()]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_bytes(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self.pools)


def pin_tree(cpus: set[int]) -> int:
    """Pin every thread of this process tree to ``cpus``. Threads and
    processes started later inherit the mask from their (pinned) parent.
    Returns the number of threads pinned."""
    n = 0
    for pid in process_tree(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
                n += 1
            except OSError:
                continue  # thread exited
    return n


# ------------------------------------------------------- cache guard --


class WarmCacheError(RuntimeError):
    """A timed repetition would start with cached data."""


def cold_start(spark) -> None:
    """Clear Spark's cache manager, then refuse to go on if anything is
    still cached (e.g. an RDD persisted outside the cache manager): a
    repetition that starts warm measures the cache, not the plan."""
    spark.catalog.clearCache()
    cached_plans = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    cached_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    if cached_plans or cached_rdds:
        raise WarmCacheError(
            f"repetition refused: {cached_rdds} persisted RDD(s) still "
            f"cached (cache manager empty: {not cached_plans})")


# ----------------------------------------------------- status stores --

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Value of an SQLAppStatusStore metric string, in bytes, seconds or
    rows: '49,024', '29 ms', '1301.5 KiB', or the per-task form
    'total (min, med, max ...)\\n10.5 s (2.5 s, ...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    m = re.fullmatch(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


PYTHON_NODE = re.compile(r"Pandas|Python|InArrow")
_METERED_NODE = re.compile(r"Exchange|Pandas|Python|InArrow|Write|Insert")


class StatusStore:
    """Job-group-scoped views over Spark's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._stages: dict[str, list[dict]] = {}

    @contextmanager
    def group(self, name: str):
        """Tag every job started inside the block with job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _jobs(self, group: str) -> list:
        return [j for j in _seq(self.app.jobsList(None))
                if j.jobGroup().isDefined() and j.jobGroup().get() == group]

    def job_ids(self, group: str) -> list[int]:
        return [j.jobId() for j in self._jobs(group)]

    def stage_rows(self, group: str) -> list[dict]:
        """Task metrics of every stage (attempt) the group's jobs ran."""
        if group in self._stages:
            return self._stages[group]
        ids = sorted({int(s) for j in self._jobs(group) for s in _seq(j.stageIds())})
        rows = []
        for sid in ids:
            for s in _seq(self.app.stageData(sid, False, None, False, self._empty)):
                if s.status().toString() == "SKIPPED":
                    continue
                rows.append({
                    "stage": sid, "attempt": s.attemptId(),
                    "name": s.name()[:60], "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_records": s.inputRecords(),
                    "output_records": s.outputRecords(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_read_records": s.shuffleReadRecords(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_write_records": s.shuffleWriteRecords(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                })
        self._stages[group] = rows
        return rows

    def task_shuffle_read(self, stage: int, attempt: int) -> list[int]:
        out = []
        for t in _seq(self.app.taskList(stage, attempt, 1 << 30)):
            m = t.taskMetrics()
            if m.isDefined():
                r = m.get().shuffleReadMetrics()
                out.append(r.localBytesRead() + r.remoteBytesRead())
        return out

    def plan_nodes(self, group: str) -> list[tuple[str, dict]]:
        """(node name, {metric name: value}) for every physical-plan node
        of the SQL executions run under ``group``. Metrics are read only
        for the nodes the ledger uses: one py4j call per metric otherwise
        adds seconds per plan."""
        out = []
        for e in _seq(self.sql.executionsList()):
            if e.description() != group:
                continue
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                name, metrics = node.name(), {}
                if _METERED_NODE.search(name):
                    for m in _seq(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            metrics[m.name()] = metrics.get(m.name(), 0.0) + \
                                parse_sql_metric(v.get())
                out.append((name, metrics))
        return out

    def cached_bytes(self) -> int:
        return sum(r.memoryUsed() + r.diskUsed()
                   for r in _seq(self.app.rddList(True)))


def sum_rows(rows: list[dict], key: str) -> float:
    return sum(r[key] for r in rows)


def python_times(nodes: list[tuple[str, dict]]) -> tuple[float, float]:
    """(run, start + initialize) seconds of the Python workers of every
    pandas/Arrow UDF node."""
    run = init = 0.0
    for name, m in nodes:
        if PYTHON_NODE.search(name):
            run += m.get("time to run Python workers", 0.0)
            init += m.get("time to start Python workers", 0.0)
            init += m.get("time to initialize Python workers", 0.0)
    return run, init


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (the Python UDF workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    alive = started
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _state(p) not in ("Z", "X")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "X"
