"""Host facts, the burn bracket, /proc sampling of the Spark processes,
and the reaping of every process a run starts.

psutil is not installed, so process memory and CPU are read from
``/proc`` directly.  In local mode the executor is the driver JVM plus
the Python workers it forks (``pyspark.daemon`` and its children), so
the JVM's process tree is the whole engine.
"""

from __future__ import annotations

import ctypes
import multiprocessing
import os
import signal
import statistics
import threading
import time

BURN_LOOPS = 3_000_000
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _burn_loop(_arg) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(BURN_LOOPS):
        x += i
    return time.perf_counter() - t0


def burn(procs: int) -> float:
    """Median wall of ``procs`` concurrent fixed Python loops: the host-
    quietness probe.  A bracket that reads much higher than its quiet
    value marks the run as taken during a co-tenant noise wave."""
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        walls = pool.map(_burn_loop, range(procs))
    return statistics.median(walls)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: the
    Python workers the JVM forks are re-parented here when the JVM exits,
    so ``reap`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap(timeout_s: float = 30.0) -> None:
    """Stop multiprocessing's resource tracker (the process pools start
    it and it would outlive this process), then wait for every child to
    exit; what still runs after ``timeout_s`` is killed and waited for."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            break
        time.sleep(0.05)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """CPU time of the process tree under ``root``: each live process's
    own time plus what it reaped from exited children, so a Python
    worker that exits mid-run still counts through its parent."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class Sampler:
    """Background sampler of the JVM's RSS and the highest peak RSS
    (VmHWM) of any one Python worker under it."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.jvm_peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        self.jvm_peak_mb = max(self.jvm_peak_mb, _status_kb(self.jvm_pid, "VmRSS:") / 1024)
        for pid in descendants(self.jvm_pid)[1:]:
            if _is_python(pid):
                self.worker_peak_mb = max(self.worker_peak_mb, _status_kb(pid, "VmHWM:") / 1024)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "Sampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
