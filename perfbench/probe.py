"""Measurements taken from outside the engine: /proc readings of the Spark
JVM and its Python workers, host contention stamps, and per-job-group stage
metrics from Spark's status store."""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
    except OSError:
        pass  # the process exited between listing and reading
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM, the PySpark daemon and
    its forked workers)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including reaped children
    (a worker's time moves into its parent's cutime when it exits)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def rss_mb(root: int) -> float:
    """Resident memory of the JVM ``root`` plus the proportional share (PSS)
    of each Python worker under it. Workers are forked from one daemon and
    share its pages, so their plain RSS would count those pages once per
    worker; other children (a fork about to exec a shell helper) would count
    the whole JVM again, and are left out."""
    try:
        with open(f"/proc/{root}/statm") as f:
            total = int(f.read().split()[1]) * PAGE_MB
    except OSError:
        return 0.0
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return total


def write_bytes(pids: list[int]) -> int:
    """Bytes ``pids`` sent to storage (shuffle files, spills, sinks)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total


class PeakRss:
    """Samples ``rss_mb`` of a JVM on a thread until stopped; keeps the peak.

    A sample costs about 8 ms of the driver's CPU (reading the workers'
    ``smaps_rollup``), so sampling every 50 ms would take a sixth of a core
    from the program under test."""

    def __init__(self, root: int, interval: float = 0.25):
        self._root, self._interval = root, interval
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(self._root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_stamp(cores: set[int]) -> tuple[int, int, int]:
    """(total, busy, steal) jiffies summed over ``cores`` from /proc/stat.
    Busy counts every state but idle, iowait and steal."""
    total = busy = steal = 0
    with open("/proc/stat") as f:
        for line in f:
            if not line.startswith("cpu"):
                break
            name, *parts = line.split()
            if name == "cpu" or int(name[3:]) not in cores:
                continue
            vals = [int(x) for x in parts[:8]]
            total += sum(vals)
            busy += sum(vals) - vals[3] - vals[4] - vals[7]
            steal += vals[7]
    return total, busy, steal


def contention(before, after, own_cpu_s: float) -> dict[str, float]:
    """Steal share and sibling-busy share of ``cores`` between two stamps.
    Sibling-busy is the cores' busy time beyond ``own_cpu_s``, the CPU the
    benchmark's own processes spent: other tenants, and kernel threads such
    as page writeback, some of which the measured program causes."""
    dt = max(after[0] - before[0], 1)
    return {
        "steal": (after[2] - before[2]) / dt,
        "sibling_busy": max((after[1] - before[1]) / dt - own_cpu_s * CLK_TCK / dt, 0.0),
    }


def sched_stamp(pids: list[int]) -> dict[int, tuple[int, int]]:
    """thread id -> (ns on a CPU, ns runnable but waiting for one), for
    every thread of ``pids``, from ``/proc/<pid>/task/<tid>/schedstat``."""
    out = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                    on_cpu, wait, _ = f.read().split()
            except (OSError, ValueError):
                continue  # the thread exited
            out[int(tid)] = (int(on_cpu), int(wait))
    return out


def run_wait_s(before: dict, after: dict) -> float:
    """Seconds the threads of ``after`` spent runnable but off a CPU since
    ``before`` (a thread that exited in between is not counted)."""
    return sum(w - before.get(t, (0, 0))[1] for t, (_, w) in after.items()) / 1e9


def uncontended_s(wall_s: float, cores: int, own_cpu_s: float, wait_s: float,
                  steal: float, sibling_busy: float) -> float:
    """``wall_s`` less the time other tenants took from the benchmark's
    processes, which ran ``own_cpu_s`` and waited ``wait_s`` for a CPU.

    Steal stops a core while it has work, and a stage then waits for its
    slowest task, so every thread is taken to be slowed by the share of
    its cores' wanted time that was stolen. Other processes on the cores
    take CPUs from the benchmark's threads: a waiting thread waits behind
    whatever holds the CPUs, so the share of the waiting put down to other
    tenants is their share of the cores' busy time; the rest is the
    benchmark's threads queueing behind each other, and stays. With no
    other tenant and no steal this returns ``wall_s``."""
    own = own_cpu_s / max(wall_s * cores, 1e-9)
    stolen = steal / max(steal + sibling_busy + own, 1e-9)
    theirs = sibling_busy / max(sibling_busy + own, 1e-9)
    waited = wait_s * theirs / max(own_cpu_s + wait_s, 1e-9)
    return wall_s * (1.0 - stolen) * (1.0 - waited)


class HostClock:
    """A reference for how fast the host runs CPU-bound work right now: a
    fixed DuckDB query that hashes strings on every core. It runs in this
    process, between passes, and touches nothing of the program."""

    SQL = "SELECT sum(hash(md5(CAST(range AS VARCHAR)))) FROM range(400000)"
    #: about the query's time on a shared 4-vCPU Intel Xeon VM; the time
    #: metrics are scaled to a host that runs it in this time
    NOMINAL_S = 0.11

    def __init__(self, threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads={threads}")
        self.readings: list[float] = []
        self.read()  # the first run also plans and allocates
        self.readings.clear()

    def read(self) -> None:
        """Keep the median time of three runs of the query."""
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.con.execute(self.SQL).fetchall()
            ts.append(time.perf_counter() - t0)
        self.readings.append(sorted(ts)[1])

    def close(self) -> None:
        self.con.close()


def group_metrics(spark, group: str, timeout: float = 30.0) -> dict[str, float]:
    """Sum the stage metrics of every job in ``group``.

    Waits until the status store has seen each job end: the listener bus
    delivers stage completions before the job end, so the stage rows read
    afterwards are final. Stages skipped because their shuffle output was
    reused have no attempt and add nothing."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    deadline = time.monotonic() + timeout
    stage_ids: set[int] = set()
    for jid in job_ids:
        while True:
            info = tracker.getJobInfo(jid)
            if info is not None and info.status in ("SUCCEEDED", "FAILED"):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"job {jid} of {group} did not end in the status store")
            time.sleep(0.01)
        stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    cpu_ns = run_ms = gc_ms = shuffle_b = spill_b = 0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # skipped stage: no attempt was ever made
        cpu_ns += sd.executorCpuTime()
        run_ms += sd.executorRunTime()
        gc_ms += sd.jvmGcTime()
        shuffle_b += sd.shuffleWriteBytes()
        spill_b += sd.memoryBytesSpilled()
    return {
        "cpu_s": cpu_ns / 1e9,
        "task_s": run_ms / 1e3,
        "gc_s": gc_ms / 1e3,
        "shuffle_write_mb": shuffle_b / 2**20,
        "spill_mb": spill_b / 2**20,
        "jobs": len(job_ids),
        "stages": len(stage_ids),
    }
