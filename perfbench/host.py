"""Host-side measurement helpers: peak memory of the Spark process tree, the
host-ceiling CPU probe, and shutdown of every process the run started.

Everything reads ``/proc`` directly (Linux only); nothing here touches Spark.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process): the Spark
    driver JVM, its Python worker daemon and the workers it forks."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by several processes (the Python
    workers forked from one daemon) count once in total, not once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class PeakPss:
    """Samples the summed PSS of the driver JVM and its Python workers every
    ``interval`` seconds while active; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants())
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakPss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by every process below this one, including
    children they have reaped (Python workers that already exited).
    Unlike wall time, it does not grow when other tenants take the cores."""
    ticks = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all cores, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python CPU loop: the host-ceiling probe.  A
    reading well above its usual value marks a contended window."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def reap_children(timeout: float = 30.0) -> None:
    """Terminate and wait for every process this run started (the JVM, and
    anything it left behind), killing whatever outlives ``timeout``."""
    pids = descendants()
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        # reap our direct children so they do not linger as zombies
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    try:
        while os.waitpid(-1, 0)[0] > 0:
            pass
    except ChildProcessError:
        pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
