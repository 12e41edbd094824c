"""Outside-in measurement: spans, Spark status-store stage totals, process
tree memory, host facts and contention diagnostics.

Nothing here reaches into the program's internals. Spans wrap the
benchmark's own calls into public functions; stage totals come from
Spark's status tracker and status store, which work with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import threading
import time


class Tracer:
    """In-memory spans (id, parent, name, start, end); a disabled tracer
    records nothing and costs one attribute test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


STAGE_FIELDS = ("jobs", "tasks", "run_ms", "shuffle_read_mb", "shuffle_write_mb")


def stage_totals(spark, groups) -> dict[str, float]:
    """Totals over the completed stages of the jobs in the job ``groups``."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen: set[int] = set()
    for jid in (j for g in groups for j in tracker.getJobIdsForGroup(g)):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store: not counted
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped stages reuse earlier shuffle output
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_mb(pid: int) -> float:
    """Proportional resident memory: shared pages split between sharers,
    so a child forked from the JVM (copy-on-write) does not count the
    JVM twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


class RssSampler:
    """Peak resident memory (summed PSS) of this process and its
    descendants (the JVM and Python workers), sampled on a thread.
    ``exclude`` pids (the load generator) and their descendants are not
    the system under test."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        #: executable name -> (processes, MB) at the peak, a diagnostic
        self.peak_by: dict[str, tuple[int, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> float:
        kids = _children_map()
        todo, total, by = [os.getpid()], 0.0, {}
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            mb = _pss_mb(pid)
            total += mb
            exe = _exe(pid)
            n, m = by.get(exe, (0, 0.0))
            by[exe] = (n + 1, m + mb)
            todo.extend(kids.get(pid, ()))
        if total > self.peak_mb:
            self.peak_mb, self.peak_by = total, by
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def calibration_spin(n: int = 2_000_000) -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t0


def _machine_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole machine since boot. Stolen
    time is time the hypervisor gave this VM's CPUs to other guests."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def _tree_jiffies() -> int:
    kids, todo, total = _children_map(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime + stime, plus cutime + cstime of children it reaped
            total += sum(int(fields[i]) for i in (11, 12, 13, 14))
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class CpuProbe:
    """Contention diagnostics, in cores averaged over the probe's life:
    CPU used by processes outside this run's tree, and CPU time stolen by
    the hypervisor."""

    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        (self._busy0, self._steal0), self._own0 = _machine_jiffies(), _tree_jiffies()

    def cores(self) -> dict[str, float]:
        dt = time.perf_counter() - self._t0
        hz = os.sysconf("SC_CLK_TCK") or 100
        busy, steal = _machine_jiffies()
        ext = (busy - self._busy0) - (_tree_jiffies() - self._own0)
        return {"external_cpu_cores": round(max(0.0, ext / hz / dt), 3),
                "stolen_cpu_cores": round((steal - self._steal0) / hz / dt, 3)}


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "loadavg_1m": os.getloadavg()[0],
    }


def adopt_orphans() -> None:
    """Make this process the subreaper of its descendants, so processes
    the JVM spawns stay ours to wait for after the JVM exits."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def shutdown_jvm(timeout_s: float = 30.0) -> None:
    """End the Spark JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


def reap_children(timeout_s: float = 30.0) -> int:
    """Wait for every child (adopted orphans included) to end, killing
    what is left after ``timeout_s``; returns how many were killed."""
    import signal

    deadline, killed = time.time() + timeout_s, 0
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.time() > deadline:
            for child in _children_map().get(os.getpid(), []):
                try:
                    os.kill(child, signal.SIGKILL)
                    killed += 1
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)
