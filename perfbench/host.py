"""Host and process-tree readings from /proc (Linux only, no repo code).

Everything here is read from outside the program: CPU jiffies, load, the
benchmark's own process tree (driver Python, the JVM it launches, and the
PySpark Python workers the JVM forks), and a fixed Spark-free speed probe.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from typing import Dict, List, Optional, Set, Tuple

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> Optional[str]:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode("utf-8", "replace")
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> Optional[List[str]]:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (its /proc starttime)."""
    fields = _stat_fields(os.getpid())
    uptime = float(_read("/proc/uptime").split()[0])
    return uptime - int(fields[19]) / CLK_TCK


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants() -> List[int]:
    """This process and every live process below it."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process tree, reaped children
    included (cutime/cstime), so short-lived workers still count."""
    total = 0
    for pid in descendants():
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def _cmdline(pid: int) -> str:
    return (_read(f"/proc/{pid}/cmdline") or "").replace("\0", " ")


def py_worker_pids() -> List[int]:
    """PySpark Python workers below this process: the processes the
    ``pyspark.daemon`` forks (the daemon itself is excluded)."""
    kids = _children_map()
    out = []
    for pid in descendants():
        if "pyspark.daemon" in _cmdline(pid):
            out.extend(k for k in kids.get(pid, ())
                       if "pyspark" in _cmdline(k))
    return out


def _status_kib(pid: int, key: str) -> int:
    raw = _read(f"/proc/{pid}/status") or ""
    for line in raw.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


class WorkerWatch:
    """Background sampler of PySpark worker PIDs and their peak RSS.

    ``reset_peaks()`` clears each live worker's kernel high-water mark
    (``/proc/<pid>/clear_refs`` = 5), so ``peak_mib()`` covers only what
    ran after the reset; VmHWM catches peaks between samples.
    """

    INTERVAL_S = 1.0  # worker PIDs live for the whole run; VmHWM keeps peaks

    def __init__(self) -> None:
        self.seen: Set[int] = set()
        self._peak_kib = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "WorkerWatch":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        pids = py_worker_pids()
        peaks = [_status_kib(pid, "VmHWM") for pid in pids]
        with self._lock:
            self.seen.update(pids)
            self._peak_kib = max([self._peak_kib] + peaks)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def reset_peaks(self) -> None:
        for pid in py_worker_pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        with self._lock:
            self._peak_kib = 0

    def peak_mib(self) -> float:
        self.sample()
        with self._lock:
            return self._peak_kib / 1024.0

    def n_seen(self) -> int:
        self.sample()
        with self._lock:
            return len(self.seen)


def cpu_jiffies() -> Tuple[int, int, int]:
    """(busy, steal, total) jiffies summed over all CPUs (/proc/stat)."""
    parts = [int(x) for x in _read("/proc/stat").splitlines()[0].split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = parts[:8]
    total = sum(parts[:8])
    return user + nice + system + irq + softirq, steal, total


def loadavg_1m() -> float:
    return float(_read("/proc/loadavg").split()[0])


_PROBE_BLOCK = bytes(range(256)) * 4096  # 1 MiB


def speed_probe_ms() -> float:
    """Fixed Spark-free CPU work (pure-Python loop + sha256 of 8 MiB)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(200_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    digest = hashlib.sha256()
    for _ in range(8):
        digest.update(_PROBE_BLOCK)
    digest.hexdigest()
    return (time.perf_counter() - t0) * 1000.0


class Weather:
    """Per-pass host conditions: recorded next to each pass, never used to
    rescale a metric."""

    def __init__(self, watch: WorkerWatch) -> None:
        self.watch = watch
        self._jiffies = cpu_jiffies()
        self._workers = watch.n_seen()

    def line(self, label: str, wall_s: float) -> str:
        busy0, steal0, total0 = self._jiffies
        busy1, steal1, total1 = cpu_jiffies()
        span = max(total1 - total0, 1)
        workers = self.watch.n_seen()
        spawned = workers - self._workers
        self._jiffies, self._workers = (busy1, steal1, total1), workers
        return (f"weather {label} wall_s={wall_s:.3f} "
                f"loadavg={loadavg_1m():.2f} "
                f"busy={100.0 * (busy1 - busy0) / span:.1f}% "
                f"steal={100.0 * (steal1 - steal0) / span:.1f}% "
                f"py_workers_spawned={spawned} "
                f"probe_ms={speed_probe_ms():.1f}")
